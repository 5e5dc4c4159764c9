package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class GraphStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("incremental append: per-tx deltas + closure reconciliation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val g0 = Graph.empty(spark)
    // tx1: two people, one tagged
    val (g1, r1) = Transactor.transact(g0, Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutEntity("Person", "b"), PutRelation("Knows", "a", "b"),
      TagAtom("a", "first")))
    GraphStore.appendTx(spark, dir, r1)
    // tx2: terminate a (cascades to the Knows relation + field rel)
    val (g2, r2) = Transactor.transact(g1, Seq(TerminateAtom("e:Person/a")))
    GraphStore.appendTx(spark, dir, r2)
    // tx3: re-instantiate a with a new name
    val (g3, r3) = Transactor.transact(g2, Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann2")))
    GraphStore.appendTx(spark, dir, r3)

    val loaded = GraphStore.loadWithClosures(spark, dir)
    assert(loaded.maxSlice == 3)
    // frame-by-frame parity with the in-memory graph
    assert(loaded.at(1).all("Person").count() == 2)
    assert(loaded.at(2).all("Person").count() == 1) // only b
    assert(loaded.now.all("Person").count() == 2)   // a re-instantiated
    assert(loaded.at(1).all("Person").hasOut("Knows").count() == 1)
    assert(loaded.now.all("Person").hasOut("Knows").count() == 0) // cascaded
    val names = loaded.now.all("Person")
      .fieldValue("Name", "v_str", "n").collect().map(_.getAs[String]("n"))
    assert(names.toSet == Set("Ann2"))
    assert(loaded.at(1).byTag("first").count() == 1)
  }

  test("compact folds closures into atoms; plain load == reconciled load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val g0 = Graph.empty(spark)
    val (g1, r1) = Transactor.transact(g0, Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutEntity("Person", "b"), PutRelation("Knows", "a", "b")))
    GraphStore.appendTx(spark, dir, r1)
    val (g2, r2) = Transactor.transact(g1, Seq(TerminateAtom("e:Person/a")))
    GraphStore.appendTx(spark, dir, r2)
    val (_, r3) = Transactor.transact(g2, Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann2")))
    GraphStore.appendTx(spark, dir, r3)

    val before = GraphStore.loadWithClosures(spark, dir)
    val wantAtoms = before.atoms.collect().map(_.toSeq).toSet
    GraphStore.compact(spark, dir)
    // the closure LOG is spent (folded into term_slice) but the directory
    // stays — it is Sync.publish's schema'd-stream-reader invariant
    assert(spark.read.schema("atom_id STRING, term_slice INT")
      .parquet(s"$dir/closures").isEmpty)
    assert(!new java.io.File(s"$dir/atoms__old").exists())
    // the PLAIN load now carries the folded intervals...
    val after = GraphStore.load(spark, dir)
    assert(after.atoms.collect().map(_.toSeq).toSet == wantAtoms)
    // ...and both load paths agree (loadWithClosures is a no-op now)
    assert(GraphStore.loadWithClosures(spark, dir).atoms
      .collect().map(_.toSeq).toSet == wantAtoms)
    // semantics spot-checks across frames survive the rewrite
    assert(after.at(1).all("Person").count() == 2)
    assert(after.at(2).all("Person").count() == 1)
    assert(after.now.all("Person").count() == 2)
    assert(after.now.all("Person").hasOut("Knows").count() == 0)
    // compaction is idempotent (no closures -> no-op)
    GraphStore.compact(spark, dir)
    assert(GraphStore.load(spark, dir).atoms
      .collect().map(_.toSeq).toSet == wantAtoms)
    // and the store keeps accepting appends afterwards
    val (_, r4) = Transactor.transact(
      GraphStore.load(spark, dir), Seq(PutEntity("Person", "c")))
    GraphStore.appendTx(spark, dir, r4)
    assert(GraphStore.loadWithClosures(spark, dir)
      .now.all("Person").count() == 3)
  }

  test("FieldIndex: @search-declared index, indexed lookup parity, append maintenance") {
    val schema = graft.gql.GqlParser.parseSchema(
      """type Person {
        |  name: String! @search @relation(rt: "Name")
        |  age: Int @search @relation(rt: "Age")
        |  score: Float @search @relation(rt: "Score")
        |  nick: String @relation(rt: "Nick")
        |}""".stripMargin)
    assert(schema.searchRts.toSet == Set("Name", "Age", "Score"))

    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutField("a", "Age", 30), PutField("a", "Score", 9.0),
      PutEntity("Person", "b"), PutField("b", "Name", "Bob"),
      PutField("b", "Age", 30)))
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    GraphStore.saveWithIndex(g1, dir, schema.searchRts)
    assert(new java.io.File(s"$dir/index/rt=Name").exists())
    assert(!new java.io.File(s"$dir/index/rt=Nick").exists())

    val loaded = GraphStore.load(spark, dir)
    val idx = GraphStore.loadIndex(spark, dir).get
    def ids(as: AtomSet) = as.df.select("atom_id").collect()
      .map(_.getString(0)).sorted.toSeq
    // indexed == plain, string and long typed probes
    assert(ids(loaded.now.selectByFieldIndexed(idx, "Person", "Name", "v_str", "Ann"))
      == ids(loaded.now.selectByField("Person", "Name", "v_str", "Ann")))
    assert(ids(loaded.now.selectByFieldIndexed(idx, "Person", "Age", "v_long", 30))
      == Seq("e:Person/a", "e:Person/b"))
    // COERCIBLE probe: the hash is keyed by the probed COLUMN's type —
    // an Int probe against a v_double field must hash "d:9.0", not "l:9"
    // (the runtime-type dispatch silently returned empty here, while
    // selectByField's coercing === matched)
    assert(ids(loaded.now.selectByFieldIndexed(idx, "Person", "Score", "v_double", 9))
      == ids(loaded.now.selectByField("Person", "Score", "v_double", 9)))
    assert(ids(loaded.now.selectByFieldIndexed(idx, "Person", "Score", "v_double", 9))
      == Seq("e:Person/a"))
    // ...but a NUMERIC probe against a STRING field is a loud reject:
    // the === re-check promotes the string COLUMN to numeric (stored
    // "9.0" satisfies === 9) and no literal rendering hashes to that —
    // the indexed probe would silently under-return vs selectByField
    val eStr = intercept[IllegalArgumentException] {
      loaded.now.selectByFieldIndexed(idx, "Person", "Name", "v_str", 9)
    }
    assert(eStr.getMessage.contains("String"))

    // append maintenance: reassign Ann -> Ann2, index delta lands, as-of holds
    val (g2, r2) = Transactor.transact(g1, Seq(
      AssignField("e:Person/a", "Name", "Ann2")))
    GraphStore.appendTxIndexed(spark, dir, r2, schema.searchRts)
    val l2 = GraphStore.loadWithClosures(spark, dir)
    val idx2 = GraphStore.loadIndex(spark, dir).get
    // stale entry eliminated by the as-of re-check at now...
    assert(ids(l2.now.selectByFieldIndexed(idx2, "Person", "Name", "v_str", "Ann"))
      == Seq())
    assert(ids(l2.now.selectByFieldIndexed(idx2, "Person", "Name", "v_str", "Bob"))
      == Seq("e:Person/b"))
    assert(ids(l2.now.selectByFieldIndexed(idx2, "Person", "Name", "v_str", "Ann2"))
      == Seq("e:Person/a"))
    // ...but the historical frame still finds the old value
    assert(ids(l2.at(1).selectByFieldIndexed(idx2, "Person", "Name", "v_str", "Ann"))
      == Seq("e:Person/a"))
    // new-in-tx field relations also index (PutField in a later tx)
    val (_, r3) = Transactor.transact(g2, Seq(
      PutEntity("Person", "c"), PutField("c", "Name", "Cid")))
    GraphStore.appendTxIndexed(spark, dir, r3, schema.searchRts)
    val l3 = GraphStore.loadWithClosures(spark, dir)
    val idx3 = GraphStore.loadIndex(spark, dir).get
    assert(ids(l3.now.selectByFieldIndexed(idx3, "Person", "Name", "v_str", "Cid"))
      == Seq("e:Person/c"))

    // EMPTY indexed store, first append: the stored-atoms read must be
    // schema'd — the atoms dir of a freshly published empty store has no
    // data files, and schema inference crashed the first indexed append
    val emptyDir = java.nio.file.Files.createTempDirectory("graft_idx0").toString
    GraphStore.saveWithIndex(Graph.empty(spark), emptyDir, Seq("Name"))
    val (_, r0) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "z"), PutField("z", "Name", "Zed")))
    GraphStore.appendTx(spark, emptyDir, r0) // marker present → maintains
    val l0 = GraphStore.loadWithClosures(spark, emptyDir)
    val idx0 = GraphStore.loadIndex(spark, emptyDir).get
    assert(ids(l0.now.selectByFieldIndexed(idx0, "Person", "Name", "v_str", "Zed"))
      == Seq("e:Person/z"))
  }

  test("appendBulk maintains a marked index: bulk-assigned values are probe-visible") {
    import spark.implicits._
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Score", 1.0),
      PutEntity("Person", "b"), PutField("b", "Score", 2.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_blkidx").toString
    GraphStore.saveWithIndex(g1, dir, Seq("Score"))
    assert(new java.io.File(s"$dir/${FieldIndex.RtsMarker}").exists(),
      "saveWithIndex did not write the auto-maintenance marker")
    // a bulk ingest tick (the StreamIngest shape) — the path that used to
    // skip index maintenance entirely, leaving indexed probes with FALSE
    // NEGATIVES for every bulk-assigned value (the one class the as-of
    // re-check cannot repair)
    val gBase = GraphStore.loadWithClosures(spark, dir)
    val (_, delta) = Transactor.assignFieldsBulkDelta(gBase,
      Seq(("e:Person/a", 7.5), ("e:Person/b", 9.0)).toDF("owner_id", "Score"),
      Seq(Transactor.BulkField("Score", "double")), materializeDelta = true)
    GraphStore.appendBulk(spark, dir, delta)
    val l2 = GraphStore.loadWithClosures(spark, dir)
    val idx = GraphStore.loadIndex(spark, dir).get
    def ids(as: AtomSet) = as.df.select("atom_id").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(ids(l2.now.selectByFieldIndexed(idx, "Person", "Score", "v_double", 7.5))
      == Seq("e:Person/a"))
    assert(ids(l2.now.selectByFieldIndexed(idx, "Person", "Score", "v_double", 9.0))
      == ids(l2.now.selectByField("Person", "Score", "v_double", 9.0)))
    // plain appendTx auto-maintains too (the marker, not the caller,
    // decides) — and appendTxIndexed no longer double-appends
    val (g3, r3) = Transactor.transact(l2, Seq(
      PutEntity("Person", "c"), PutField("c", "Score", 4.25)))
    GraphStore.appendTx(spark, dir, r3)
    val l3 = GraphStore.loadWithClosures(spark, dir)
    val idx3 = GraphStore.loadIndex(spark, dir).get
    assert(ids(l3.now.selectByFieldIndexed(idx3, "Person", "Score", "v_double", 4.25))
      == Seq("e:Person/c"))
    val (_, r4) = Transactor.transact(g3, Seq(
      AssignField("e:Person/c", "Score", 5.5)))
    GraphStore.appendTxIndexed(spark, dir, r4, Seq("Score"))
    val idx4 = GraphStore.loadIndex(spark, dir).get
    assert(idx4.filter(col("tx_slice") === r4.slice).count() == 1,
      "appendTxIndexed double-appended the index delta on a marked store")
    // a stored -0.0 is probe-visible with 0.0 (=== treats them equal, so
    // the hash must too; string-rendering the raw double missed the bucket)
    val (_, r5) = Transactor.transact(GraphStore.loadWithClosures(spark, dir),
      Seq(PutEntity("Person", "z"), PutField("z", "Score", -0.0)))
    GraphStore.appendTx(spark, dir, r5)
    val l5 = GraphStore.loadWithClosures(spark, dir)
    val idx5 = GraphStore.loadIndex(spark, dir).get
    assert(ids(l5.now.selectByFieldIndexed(idx5, "Person", "Score", "v_double", 0.0))
      == ids(l5.now.selectByField("Person", "Score", "v_double", 0.0)))
    assert(ids(l5.now.selectByFieldIndexed(idx5, "Person", "Score", "v_double", 0.0))
      == Seq("e:Person/z"))
  }

  test("bucketCountFor: one bucket per ~target bytes, never zero") {
    val GiB = 1L << 30
    assert(GraphStore.bucketCountFor(0) == 1)
    assert(GraphStore.bucketCountFor(1) == 1)
    assert(GraphStore.bucketCountFor(GiB) == 1)
    assert(GraphStore.bucketCountFor(GiB + 1) == 2)
    assert(GraphStore.bucketCountFor(100L * 1024 * GiB) == 100 * 1024)
    assert(GraphStore.bucketCountFor(10L * GiB, targetBucketBytes = GiB / 4) == 40)
  }

  test("bucketed store: semantics parity + co-located plans with no Exchange") {
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "joe"), PutField("joe", "Name", "Joe"),
      PutEntity("Person", "amy"), PutField("amy", "Name", "Amy"),
      PutEntity("Pet", "spot"), PutRelation("HasPet", "joe", "spot")))
    val (g2, _) = Transactor.transact(g1, Seq(
      AssignField("e:Person/joe", "Name", "Joseph")))
    GraphStore.saveBucketed(g2, "bspec", numBuckets = 4)
    val loaded = GraphStore.loadBucketed(spark, "bspec")

    // full read-path parity over catalog tables (as-of history included)
    assert(loaded.maxSlice == 2)
    assert(loaded.now.all("Person").fieldValue("Name", "v_str", "n")
      .collect().map(_.getAs[String]("n")).toSet == Set("Joseph", "Amy"))
    assert(loaded.at(1).all("Person").fieldValue("Name", "v_str", "n")
      .collect().map(_.getAs[String]("n")).toSet == Set("Joe", "Amy"))
    assert(loaded.now.all("Person").outs("HasPet").count() == 1)

    // THE hot aggregate of the as-of path: values.groupBy(ae_id) — the
    // bucketed scan's HashPartitioning(ae_id) already satisfies the agg's
    // required distribution, so the executed plan carries NO Exchange
    val agg = loaded.values.filter(col("tx_slice") <= 2)
      .groupBy("ae_id")
      .agg(max_by(struct(col("tx_slice"), col("v_str")), col("tx_slice")))
    agg.collect()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"bucketed agg shuffled:\n$aggPlan")

    // atom_id equi-join between two reads of the bucketed table: forced to
    // a sort-merge join (broadcast would hide the co-location) — still no
    // Exchange on either side
    val l2 = GraphStore.loadBucketed(spark, "bspec")
    val j = loaded.atoms.hint("merge")
      .join(l2.atoms.select("atom_id").hint("merge"), "atom_id")
    j.collect()
    val jPlan = j.queryExecution.executedPlan.toString
    assert(!jPlan.contains("Exchange"), s"bucketed join shuffled:\n$jPlan")

    // contrast: the SAME aggregate over the plain (unbucketed) layout does
    // shuffle — proves the assertion above is load-bearing
    val dir = java.nio.file.Files.createTempDirectory("graft_plain").toString
    GraphStore.save(g2, dir)
    val plain = GraphStore.load(spark, dir)
    val pAgg = plain.values.filter(col("tx_slice") <= 2)
      .groupBy("ae_id")
      .agg(max_by(struct(col("tx_slice"), col("v_str")), col("tx_slice")))
    pAgg.collect()
    assert(pAgg.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("GraphQL one-plan queries run unchanged over the bucketed catalog store") {
    val schema = graft.gql.GqlParser.parseSchema(
      """type Person {
        |  name: String! @relation(rt: "Name")
        |  age: Int @relation(rt: "Age")
        |}""".stripMargin)
    val (g, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutField("a", "Age", 30),
      PutEntity("Person", "b"), PutField("b", "Name", "Bob"),
      PutField("b", "Age", 41)))
    GraphStore.saveBucketed(g, "bgql", numBuckets = 4)
    val loaded = GraphStore.loadBucketed(spark, "bgql")
    val q = """query {
              |  queryPerson(filter: {age: {ge: 35}}, order: {asc: name}) {
              |    name
              |    age
              |  }
              |}""".stripMargin
    val mem = graft.gql.GqlApi.query(g.now, schema, q).collect().map(_.toSeq)
    val disk = graft.gql.GqlApi.query(loaded.now, schema, q).collect().map(_.toSeq)
    assert(mem.toSeq == disk.toSeq)
    assert(disk.length == 1 && disk(0).contains("Bob"))
  }

  test("save/load round-trip preserves graph semantics and prunes by type") {
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "joe"), PutField("joe", "Name", "Joe"),
      PutEntity("Pet", "spot"), PutRelation("HasPet", "joe", "spot"),
      TagAtom("joe", "hero")))
    val (g2, _) = Transactor.transact(g1, Seq(
      AssignField("e:Person/joe", "Name", "Joseph")))

    val dir = java.nio.file.Files.createTempDirectory("graft_store").toString
    GraphStore.save(g2, dir)
    val loaded = GraphStore.load(spark, dir)

    assert(loaded.maxSlice == 2)
    assert(loaded.now.all("Person").fieldValue("Name", "v_str", "n")
      .collect()(0).getAs[String]("n") == "Joseph")
    assert(loaded.at(1).all("Person").fieldValue("Name", "v_str", "n")
      .collect()(0).getAs[String]("n") == "Joe")
    assert(loaded.now.byTag("hero").count() == 1)
    assert(loaded.now.all("Person").outs("HasPet").count() == 1)

    // physical layout: per-(kind, atype) directories exist → partition
    // pruning applies to all[ET.X] scans
    assert(new java.io.File(s"$dir/atoms/kind=entity/atype=Person").exists())
    assert(new java.io.File(s"$dir/atoms/kind=relation/atype=HasPet").exists())
    // and the pruned scan plan reads only the one partition
    val plan = loaded.now.all("Person").df.queryExecution.executedPlan.toString
    assert(!plan.contains("atype=Pet") || plan.contains("PartitionFilters"))
  }

  test("single-assignment provenance survives the bucketed catalog round-trip") {
    val g = GraphEncoder.encodeTpch(spark, "/root/testdata/sf0.001")
    GraphStore.saveBucketed(g, "bmeta", numBuckets = 4)
    val loaded = GraphStore.loadBucketed(spark, "bmeta")
    assert(loaded.uniqueValuesThrough == 1)
    // flagged + bucketed: the cold as-of frame is a bucket-pruned scan
    // with NO aggregate and NO Exchange at all
    val lv = loaded.latestValues(1)
    lv.collect()
    val plan = lv.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") &&
      !lv.queryExecution.optimizedPlan.toString.contains("Aggregate"),
      s"bucketed flagged frame not a plain scan:\n$plan")
    assert(lv.count() == g.latestValues(1).count())
  }

  test("single-assignment provenance survives the store round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta").toString
    val g = GraphEncoder.encodeTpch(spark, "/root/testdata/sf0.001")
    GraphStore.save(g, dir)
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.uniqueValuesThrough == 1)
    // the disk-loaded graph's cold as-of frame keeps the fast path
    val plan = loaded.latestValues(1).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"store load lost the fast path:\n$plan")
    // an appended re-assignment lands at a later slice: the flag stays
    // valid, the reconciled load still resolves the new value at now and
    // the old value in the earlier frame
    val (g2, r2) = Transactor.transact(loaded,
      Seq(AssignField("e:Customer/1", "c_acctbal", 123.45)))
    GraphStore.appendTx(spark, dir, r2)
    val re = GraphStore.loadWithClosures(spark, dir)
    assert(re.uniqueValuesThrough == 1 && re.maxSlice == 2)
    val ae = "ae:c_acctbal/e:Customer/1"
    assert(re.latestValues(2).filter(col("ae_id") === ae)
      .collect()(0).getAs[Double]("v_double") == 123.45)
    assert(re.latestValues(1).filter(col("ae_id") === ae)
      .collect()(0).getAs[Double]("v_double") ==
      g2.latestValues(1).filter(col("ae_id") === ae)
        .collect()(0).getAs[Double]("v_double"))
  }

  test("save Overwrite clears a stale field index with the other side state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_ow").toString
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann")))
    GraphStore.saveWithIndex(g1, dir, Seq("Name"))
    assert(GraphStore.loadIndex(spark, dir).isDefined)
    // overwriting with an index-less save must not leave g1's index
    // behind: its rows reference g1's ae/owner ids and would resolve
    // lookups against a graph that no longer exists
    val (g2, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "z"), PutField("z", "Name", "Zoe")))
    GraphStore.save(g2, dir)
    assert(GraphStore.loadIndex(spark, dir).isEmpty,
      "stale field index survived an Overwrite save")
  }

  test("purgeSlice removes orphaned index rows (appendTxIndexed crash window)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_purge").toString
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann")))
    GraphStore.saveWithIndex(g1, dir, Seq("Name"))
    val before = FieldIndex.load(spark, s"$dir/index").count()
    // appendTxIndexed's ordering is index delta FIRST, tx marker last —
    // simulate a crash in between: the index holds slice-2 rows, the
    // store does not
    val (_, r2) = Transactor.transact(g1,
      Seq(AssignField("e:Person/a", "Name", "Bob")))
    FieldIndex.appendTx(spark, dir, s"$dir/index", r2, Seq("Name"))
    assert(FieldIndex.load(spark, s"$dir/index")
      .filter(col("tx_slice") === 2).count() > 0)
    GraphStore.purgeSlice(spark, dir, 2)
    val after = FieldIndex.load(spark, s"$dir/index")
    assert(after.filter(col("tx_slice") === 2).count() == 0,
      "orphaned index rows survived purgeSlice — a re-applied tx would double-count")
    assert(after.count() == before)
  }

  test("compact leaves empty closures + atoms_log for stream tails, not missing ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cl_dir").toString
    // the live-feed marker a Sync.publish would have created: appendTx
    // mirrors atoms into it only while it exists
    new java.io.File(s"$dir/atoms_log").mkdirs()
    val (g1, r1) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutEntity("Person", "b")))
    GraphStore.appendTx(spark, dir, r1)
    val (_, r2) = Transactor.transact(g1, Seq(TerminateAtom("e:Person/a")))
    GraphStore.appendTx(spark, dir, r2)
    assert(new java.io.File(s"$dir/closures").exists())
    assert(new java.io.File(s"$dir/atoms_log").listFiles().nonEmpty,
      "appendTx did not mirror into the live-feed CDC log")
    GraphStore.compact(spark, dir)
    // the fold reconciled the log into term_slice, but the DIRECTORY is
    // Sync.publish's schema'd-reader invariant: a restarted closure tail
    // (the documented post-compact flow) readStreams this path
    val cl = new java.io.File(s"$dir/closures")
    assert(cl.exists(), "compact removed the closures log directory")
    assert(spark.read.schema("atom_id STRING, term_slice INT")
      .parquet(s"$dir/closures").isEmpty)
    // atoms_log's EXISTENCE is the live-feed marker (appendTx's mirror
    // guard and Sync.atomFeed both key on it): compact must clear
    // contents only — the old rm()+mkdirs() idiom had a crash window
    // that dropped the dir, silently and permanently ending the
    // per-tx-atomic feed contract
    val al = new java.io.File(s"$dir/atoms_log")
    assert(al.isDirectory, "compact removed the atoms_log live-feed marker")
    assert(al.listFiles().forall(!_.getName.endsWith(".parquet")))
    // mirroring resumes on the next append — the contract survived compact
    val g2 = GraphStore.loadWithClosures(spark, dir)
    val (_, r3) = Transactor.transact(g2, Seq(PutEntity("Person", "c")))
    GraphStore.appendTx(spark, dir, r3)
    assert(al.listFiles().exists(_.getName.endsWith(".parquet")),
      "appendTx stopped mirroring after compact")
    assert(GraphStore.load(spark, dir).at(2).all("Person").count() == 1)
  }

  test("Fs.clearDir empties a SYMLINKED log through the link, keeping the link") {
    // a user-symlinked atoms_log (spent-log dir on another volume): the
    // clear must go THROUGH the link — skipping it would leave the whole
    // pre-compact history for a restarted tail to replay — while the
    // link itself (the live-feed marker) survives
    val real = java.nio.file.Files.createTempDirectory("graft_clr_real")
    java.nio.file.Files.writeString(real.resolve("spent.parquet"), "x")
    val parent = java.nio.file.Files.createTempDirectory("graft_clr_link")
    val link = parent.resolve("atoms_log")
    java.nio.file.Files.createSymbolicLink(link, real)
    Fs.clearDir(link.toFile)
    assert(java.nio.file.Files.isSymbolicLink(link), "clear removed the marker link")
    assert(Option(real.toFile.listFiles()).get.isEmpty, "spent files survived the clear")
  }

  test("SaveMode.Ignore on an existing store leaves provenance meta untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_ig").toString
    // g1: multi-assignment (same field assigned twice) → NO meta file,
    // loads on the safe max_by path
    val (g1a, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann")))
    val (g1, _) = Transactor.transact(g1a,
      Seq(AssignField("e:Person/a", "Name", "Bob")))
    GraphStore.save(g1, dir)
    assert(!new java.io.File(s"$dir/_graft_meta.json").exists())
    // Ignore on the existing path: data writers no-op — the meta writer
    // must no-op with them, or g2's single-assignment flag would fast-path
    // g1's multi-assignment rows into wrong as-of reads
    val g2 = GraphEncoder.encodeTpch(spark, "/root/testdata/sf0.001")
    assert(g2.uniqueValuesThrough >= 0)
    GraphStore.save(g2, dir, org.apache.spark.sql.SaveMode.Ignore)
    assert(!new java.io.File(s"$dir/_graft_meta.json").exists(),
      "Ignore-mode save wrote provenance for data it never wrote")
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.now.all("Person").fieldValue("Name", "v_str", "n")
      .collect().map(_.getString(1)).toSeq == Seq("Bob"))
  }

  test("a reader racing compact is safe: load never repairs the store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_race").toString
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann")))
    GraphStore.save(g1, dir)
    // simulate an IN-FLIGHT compact: the writer is mid-way through
    // writing the consolidated atoms tree beside the live one
    val staging = new java.io.File(s"$dir/atoms__compacting")
    staging.mkdirs()
    val partFile = new java.io.File(staging, "part-00000.parquet")
    java.nio.file.Files.writeString(partFile.toPath, "half-written")
    // the old heal-on-load DELETED the staging tree here — the writer's
    // next rename then failed and the compaction aborted mid-run
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.now.all("Person").count() == 1) // live tree reads fine
    assert(staging.exists() && partFile.exists(), // writer's work untouched
      "reader must not delete an in-flight __compacting tree")
    staging.listFiles.foreach(_.delete()); staging.delete()
  }

  test("crashed mid-swap: load throws the recovery instruction; heal restores") {
    val dir = java.nio.file.Files.createTempDirectory("graft_heal").toString
    val (g1, _) = Transactor.transact(Graph.empty(spark), Seq(
      PutEntity("Person", "a"), PutField("a", "Name", "Ann"),
      PutEntity("Person", "b")))
    GraphStore.save(g1, dir)
    // crash window of the two-rename swap: `values` staged aside, the
    // consolidated tree never swapped in
    assert(new java.io.File(s"$dir/values")
      .renameTo(new java.io.File(s"$dir/values__old")))
    val e = intercept[IllegalStateException] {
      GraphStore.load(spark, dir)
    }
    assert(e.getMessage.contains("heal"), s"unhelpful error: ${e.getMessage}")
    // writer-side recovery restores the pre-maintenance tree exactly
    GraphStore.heal(dir)
    assert(!new java.io.File(s"$dir/values__old").exists())
    val healed = GraphStore.load(spark, dir)
    assert(healed.now.all("Person").count() == 2)
    assert(healed.now.all("Person").fieldValue("Name", "v_str", "n")
      .collect().map(_.getString(1)).toSeq == Seq("Ann"))
    // and a crashed-then-rerun compact heals on entry by itself
    assert(new java.io.File(s"$dir/atoms")
      .renameTo(new java.io.File(s"$dir/atoms__old")))
    GraphStore.compact(spark, dir)
    assert(GraphStore.load(spark, dir).now.all("Person").count() == 2)
    // the INDEX sub-table is part of the swap protocol too: a crash with
    // index staged aside must THROW, not load-silently-unindexed — a
    // later indexed append would rebuild a delta-only index, after which
    // the writer-side heal deletes index__old as garbage (permanent loss)
    assert(new java.io.File(s"$dir/index__old").mkdir())
    val e2 = intercept[IllegalStateException] { GraphStore.load(spark, dir) }
    assert(e2.getMessage.contains("index"))
    GraphStore.heal(dir)
    assert(new java.io.File(s"$dir/index").exists())
    assert(GraphStore.load(spark, dir).now.all("Person").count() == 2)
    // purgeSlice is the fourth consumer of the staged swap: it too heals
    // a crashed predecessor on entry before rewriting
    assert(new java.io.File(s"$dir/values")
      .renameTo(new java.io.File(s"$dir/values__old")))
    GraphStore.purgeSlice(spark, dir, n = 999) // no slice-999 rows: pure heal+rewrite
    val healed2 = GraphStore.load(spark, dir)
    assert(healed2.now.all("Person").count() == 2)
    assert(healed2.now.all("Person").fieldValue("Name", "v_str", "n")
      .collect().map(_.getString(1)).toSeq == Seq("Ann"))
  }

  test("Fs.rm never follows symlinks into their targets") {
    import java.nio.file.Files
    // a store cleanup over a tree containing a symlinked subdir (e.g. an
    // index moved to another volume) must delete the LINK, never the
    // target's contents — isDirectory is true for a link to a directory
    val target = Files.createTempDirectory("graft_rm_target")
    Files.write(target.resolve("precious.txt"), "keep".getBytes)
    val root = Files.createTempDirectory("graft_rm_root")
    Files.write(root.resolve("a.txt"), "x".getBytes)
    Files.createSymbolicLink(root.resolve("link"), target)
    Fs.rm(root.toFile)
    assert(!Files.exists(root))
    assert(Files.exists(target.resolve("precious.txt")),
      "rm followed the symlink and destroyed the target")
    Fs.rm(target.toFile)
  }
}
