package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.Graph
import graft.fx.{StreamIngest, Sync}

/** `ingest_asof`: streaming writes into a synced store, then reads of the
  * store as of earlier transactions.
  *
  * Input: ordered parquet files, which run.py splits from `events` by the
  * seed (with late and redelivered rows), applied by one streaming query,
  * one file per tick. The first [[WarmTicks]] ticks are set-up: the timed
  * phase starts when they end, so it holds no cold tick and no query
  * start-up.
  *
  * As-of reads open the store each time and read one of three shapes at
  * seeded slices: field values at a slice, an `events(from, to)` window,
  * and a diff of field values between two slices. Reads run in rounds of
  * one read per shape, [[MinRounds]] rounds at least and more while the
  * timed phase is shorter than `seconds`. Ingest applies
  * last-writer-wins by event time, so run.py checks each read (and the
  * final state) against a latest-by-(ts, event_id) reference over the
  * files delivered up to that slice. */
object IngestAsOf {
  // the third tick still ran slower, and varied most between runs, in
  // ten-seed sets: it is set-up too
  val WarmTicks = 3
  val MinRounds = 2
  val Shapes: Seq[String] = Seq("values", "events_window", "diff")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val base = s"${ctx.work}/ingest"
    val store = s"$base/store"
    def parquets(dir: String) =
      new File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq
    val files = parquets(ctx.args("input-dir"))
    val nFiles = files.size
    val baseSlice = ctx.span("setup.publish") {
      val g = Graph.empty(spark); Sync.publish(g, store); g.maxSlice
    }
    val q = ctx.span("fx.ingest") {
      val stream = spark.readStream.schema(spark.read.parquet(files.head).schema)
        .option("maxFilesPerTrigger", "1").parquet(ctx.args("input-dir"))
      val q = StreamIngest.eventsToGraph(stream, store, "User",
        key = col("user_id"), eventTs = col("ts"), tie = col("event_id"),
        fields = Seq(
          StreamIngest.IngestField("Value", "double", col("value")),
          StreamIngest.IngestField("EventType", "str", col("event_type"))),
        checkpointDir = s"$base/ckpt")
      q.awaitTermination()
      q
    }
    def tickS(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
      p.durationMs.get("triggerExecution").longValue() / 1000.0
    val (warm, timed) = q.recentProgress.toSeq.filter(_.numInputRows > 0).splitAt(WarmTicks)
    val timedStartMs = java.time.Instant.parse(warm.last.timestamp).toEpochMilli +
      (tickS(warm.last) * 1000).toLong
    ctx.out("first_op_epoch_ms") = timedStartMs
    def timedS(): Double = (System.currentTimeMillis() - timedStartMs) / 1000.0
    val offered = timed.map(_.numInputRows).sum
    val ticks = timed.map(tickS)

    ctx.extraLayers("fx.store.bytes_per_event") =
      graft.core.Fs.dirBytes(store).toDouble / math.max(1L, offered)

    val rng = ctx.rng
    def slices(): (Int, Int) = {
      val a = 1 + rng.nextInt(nFiles - 1); val b = a + 1 + rng.nextInt(nFiles - a)
      (a, b)
    }
    // one as-of read: open the store, read, collect
    def asOf(shape: String, a: Int, b: Int, op: Int): Map[String, Any] = {
      val t0 = System.nanoTime()
      val rows = ctx.span("asof." + shape, op) {
        val g = ctx.span("core.store_open")(Sync.openQuery(spark, store).graph)
        ctx.span("core.asof_read") {
          val df = shape match {
            case "values" => g.at(baseSlice + b).all("User")
              .fields(("Value", "v_double", "value"), ("EventType", "v_str", "event_type"))
            case "events_window" => g.events(baseSlice + a + 1, baseSlice + b)
              .groupBy(col("event")).agg(count(lit(1)).as("n"))
            case "diff" =>
              val before = g.at(baseSlice + a).all("User").fieldValue("Value", "v_double", "v_before")
              val after = g.at(baseSlice + b).all("User").fieldValue("Value", "v_double", "v_after")
              before.join(after, "atom_id").filter(col("v_before") =!= col("v_after"))
                .select(col("atom_id"))
          }
          ctx.collectJson(df)
        }
      }
      Map("shape" -> shape, "a" -> a, "b" -> b, "lat_s" -> (System.nanoTime() - t0) / 1e9,
        "rows" -> rows.map(RawJson))
    }

    // one untimed read of each shape warms the read path
    Shapes.foreach { s => val (a, b) = slices(); asOf(s, a, b, -1) }
    val reads = Iterator.from(0)
      .takeWhile(round => round < MinRounds || timedS() < ctx.seconds)
      .flatMap { round =>
        rng.shuffle(Shapes).zipWithIndex.map { case (s, i) =>
          val (a, b) = slices(); asOf(s, a, b, round * Shapes.size + i)
        }
      }.toList
    val finalState = asOf("values", nFiles - 1, nFiles, -2)

    val g = Sync.open(spark, store).graph
    ctx.out("primary_s") = reads.map(_("lat_s"))
    ctx.out("aux_s") = ticks
    ctx.out("throughput_per_s") = offered / ticks.sum
    // every read and the final state are ops checked by run.py; the ticks
    // are ops here (a failed tick fails the query), and the store's
    // one-slice-per-tick check below is one more
    ctx.out("attempted") = warm.size + ticks.size
    ctx.out("failed_ops") = 0
    ctx.out("ingest") = Map("files" -> files, "offered" -> offered,
      "reads" -> reads, "final" -> finalState)
    val slicesOk = g.maxSlice == baseSlice + nFiles && warm.size + ticks.size == nFiles
    ctx.out("inline_checks") = Seq(Map("name" -> "ingest.one_slice_per_tick",
      "ok" -> slicesOk,
      "detail" -> s"base slice $baseSlice, max slice ${g.maxSlice}, ${warm.size + ticks.size} ticks of $nFiles"))
  }
}
