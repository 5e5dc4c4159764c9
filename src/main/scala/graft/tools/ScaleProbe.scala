package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: does each heavy query's wall-time grow ~linearly with
  * input size? sf0.1 alone cannot catch a candidate-set blowup (LSH
  * buckets, gather frontiers) that only ignites at larger cardinalities.
  *
  * Synthesizes a k× variant of a base sf dir by unioning k DISJOINT
  * deterministic copies: ids offset per copy, payloads DECORRELATED so
  * true result sizes grow ~linearly — document copies get per-copy token
  * suffixes (cross-copy Jaccard 0), embedding copies get a per-copy ±1
  * sign mask (cross-copy cosine ~0 in expectation) — no artificial
  * cross-copy near-dup explosion, which would flag every dedup plan as
  * super-linear by construction. Dims (region/nation) stay fixed.
  *
  * Reports per query: median seconds at 1× and k×, and the growth
  * exponent log(t_k/t_1)/log(k). Exponent ≈ 1 = linear; > ~1.3 flags a
  * plan whose intermediate sets grow faster than its input.
  *
  * Usage: runMain graft.tools.ScaleProbe [baseDir] [factor] [q1 q2 ...]
  */
object ScaleProbe {

  private val DefaultProbes = Seq(
    "wr_embedding_near_dups", "wr_embedding_near_dups_auto",
    "wr_span_dedup", "gql_hook_mutation", "er_infer_nested",
    "gql_dynamic_field", "graph_gather_2step", "wr_minhash_lsh", "wr_simhash")

  /** UNBOUNDED operator variants for the deep scale tier (30×): several
    * registry fixtures bound their inputs to oracle size (doc_id < 200,
    * c_custkey < 300, doc_id < 300) — probing THOSE at k× measures a
    * constant input plus fixed floors, never the data term. These probe
    * the same operators over the FULL (scaled) tables, with the packaged
    * pipeline's production parameters (3-gram / 0.8 — the registry's
    * unigram/0.5 fixture setting is oracle-sized: synthetic docs share
    * vocabulary, so unigram LSH over the full corpus floods candidates by
    * construction, which would measure the fixture, not the plan). */
  val ExtraProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_dedup_ingest_unbounded" -> ((s, d) => {
      import graft.wrangling.IncrementalDedup
      val base = java.nio.file.Files
        .createTempDirectory("graft_sdi_scale").toString
      val docs = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
      docs.repartition(3, col("doc_id")).write
        .mode("overwrite").parquet(s"$base/src")
      IncrementalDedup.publish(s"$base/index")
      val files = new java.io.File(s"$base/src").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        IncrementalDedup.ingestTick(s, s"$base/index",
          s.read.parquet(f.getPath), "doc_id", "text",
          threshold = 0.8, shingleN = 3, tick = i + 1)
      }
      IncrementalDedup.flags(s, s"$base/index")
    }),
    "corpus_dedup_unbounded" -> ((s, d) =>
      graft.wrangling.Dedup.corpusDedup(
        graft.Tables.documents(s, d), "doc_id", "text",
        threshold = 0.8, numHashes = 16, bands = 8, shingleN = 3,
        spanTokens = Some(8))),
    "er_infer_nested_unbounded" -> ((s, d) =>
      inferUnbounded(s, d).now.all("Customer")
        .fieldValue("name", "v_str", "cname")),
    // the engine's documented scale path for REPEATED reads of an
    // inferred graph: infer ONCE, save the graph, read through
    // Sync.open. The r17 100× attribution put ~half the
    // er probe's cost in re-reading the freshly-inferred IN-MEMORY graph
    // (no persisted layout) per run — this probe measures the read side
    // the way a production pipeline would actually serve it. The one-off
    // save is paid outside the timed repeats (memoized per dir), exactly
    // like the registry's encode caches.
    "er_infer_stored_read" -> ((s, d) => {
      val dir = erStoreCache.getOrElseUpdate((s, d), {
        val out = java.nio.file.Files
          .createTempDirectory("graft_er_store").toString
        graft.core.GraphStore.save(inferUnbounded(s, d), out)
        out
      })
      graft.fx.Sync.open(s, dir).now.all("Customer")
        .fieldValue("name", "v_str", "cname")
    }))

  private val erStoreCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** The unbounded NestedInfer pipeline (shared by the in-memory and
    * stored-read probes — one definition, two serving paths). */
  private def inferUnbounded(s: SparkSession, d: String): graft.core.Graph = {
    import graft.wrangling.NestedInfer
    import NestedInfer._
    val cust = graft.Tables.customer(s, d) // no c_custkey bound
    val nat = graft.Tables.nation(s, d)
    val docs = cust.join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .select(col("c_custkey").as("doc_id"),
        to_json(struct(
          col("c_name").as("name"),
          col("c_mktsegment").as("segment"),
          struct(col("n_name").as("name")).as("nation"),
          array(concat(col("c_name"), lit("-p1")),
            concat(col("c_name"), lit("-p2"))).as("phones"))).as("doc"))
    val rules = Seq(
      TripleRule(ZP, V("segment"), AnyP, "Customer"),
      TripleRule(T("Customer"), V("nation"), ZP, "Nation"))
    NestedInfer.toGraph(
      NestedInfer.inferTypes(docs, "doc_id", "doc", rules))
  }

  /** Deterministic ±1 sign mask for copy `c` (dimension `dim`) — same
    * md5-parity derivation family as Similarity.lshPlanes. */
  private def signMask(c: Int, dim: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { j =>
      md.reset()
      val d = md.digest(s"scale:$c:$j".getBytes("UTF-8"))
      if ((d(0) & 1) == 1) 1 else -1
    }
  }

  /** Build the k× dir (idempotent: skipped when the marker exists). */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GRAFT_SCALE_OK")
    if (done.exists()) return
    val off = 10000000L // all base ids at sf<=1 are far below this

    def replicate(name: String, transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$baseDir/$name.parquet")
      val scaled = (0 until k).map(c => transform(base, c))
        .reduce(_.unionByName(_))
      scaled.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    def shiftCols(df: DataFrame, c: Int, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, cn) => d.withColumn(cn, col(cn) + lit(off * c)))

    // dims stay fixed (the realistic shape: fact growth, not dim growth) —
    // written ONCE, not unioned k times: a k-times-identical dim fans
    // every dim join out k-fold, corrupting both results and exponents
    // (caught by NestedInfer's AE-collision guard at 3x)
    def fixed(name: String): Unit =
      spark.read.parquet(s"$baseDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    fixed("region")
    fixed("nation")
    replicate("customer", (df, c) => shiftCols(df, c, Seq("c_custkey")))
    replicate("supplier", (df, c) => shiftCols(df, c, Seq("s_suppkey")))
    replicate("part", (df, c) => shiftCols(df, c, Seq("p_partkey")))
    replicate("orders", (df, c) =>
      shiftCols(df, c, Seq("o_orderkey", "o_custkey")))
    replicate("lineitem", (df, c) =>
      shiftCols(df, c, Seq("l_orderkey", "l_partkey", "l_suppkey")))
    replicate("events", (df, c) =>
      shiftCols(df, c, Seq("event_id", "user_id")))
    replicate("documents", (df, c) => {
      val shifted = shiftCols(df, c, Seq("doc_id"))
      if (c == 0) shifted
      else shifted.withColumn("text", // decorrelate shingles across copies
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit(s"~$c")))))
    })
    replicate("embeddings", (df, c) => {
      val shifted = shiftCols(df, c, Seq("vec_id"))
      if (c == 0) shifted
      else {
        val mask = array(signMask(c, 64).map(s => lit(s.toFloat)): _*)
        shifted.withColumn("embedding", // decorrelate cosine across copies
          zip_with(col("embedding"), mask, (x, s) => x * s))
      }
    })
    done.getParentFile.mkdirs()
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(3)
    val probes = if (args.length > 2) args.drop(2).toSeq else DefaultProbes
    val scaledDir = s"/tmp/graft_scale/x$factor"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.GraftSession.local(cpus)

    synthesize(spark, baseDir, scaledDir, factor)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

    val defs = graft.queries.Registry.entries.map(q => q.name -> q.fn).toMap
    val rows = probes.flatMap { name =>
      defs.get(name).orElse(ExtraProbes.get(name)) match {
        case None => println(s"[scale-probe] unknown query: $name"); None
        case Some(fn) =>
          def run(dir: String): Double = {
            // release the PREVIOUS probe/dir's pinned caches first: 7
            // probes × 2 dirs of accumulated graphs otherwise churn
            // executor storage (the eviction churn BASELINE.md's
            // round-7 full local bench records), distorting the very
            // exponents this tool reports
            graft.core.TransientCaches.releaseAll()
            // construction-eager queries (the span/dedup family) leak one
            // localCheckpoint RDD set per fn() call; those blocks are
            // reclaimed by the ContextCleaner only after their weak refs
            // GC. Left alone, storage fills across the warm-up + timed
            // repetitions and evictions churn the very runs being timed —
            // measured as a 4× spread on wr_span_dedup's t10 (5.7–31.6 s
            // across four otherwise-identical probe batches). Nudge the
            // cleaner between runs so each timing starts storage-clean.
            def gcSettle(): Unit = { System.gc(); Thread.sleep(200) }
            gcSettle()
            fn(spark, dir).count() // warm-up (primes graph caches)
            median((1 to runs).map { _ =>
              gcSettle(); time(fn(spark, dir).count())
            })
          }
          val t1 = run(baseDir)
          val tk = run(scaledDir)
          val exp = math.log(tk / t1) / math.log(factor.toDouble)
          println(f"[scale-probe] $name%-28s t1=$t1%7.3fs t$factor=$tk%7.3fs exponent=$exp%5.2f")
          Some((name, t1, tk, exp))
      }
    }
    val qs = rows.map { case (n, t1, tk, e) =>
      f""""$n":{"t1":$t1%.3f,"tk":$tk%.3f,"exponent":$e%.2f}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","factor":$factor,"base":"$baseDir","queries":$qs,"cpus":$cpus}""")
    spark.stop()
  }
}
