package perfbench

import graft.core.TransientCaches
import graft.queries.Registry

/** `batch_jobs`: sequential passes over registry batch jobs, one job of
  * each batch module: span dedup (`graft.wrangling`), static PageRank
  * (`graft.analytics`, an iterative loop) and a two-step gather
  * (`core.gather`).
  *
  * Set-up runs every job once, in parallel, and collects its rows for the
  * output check; it also builds the encoded graph the graph jobs share.
  * The timed phase is whole passes, each over every job in a seeded
  * order, [[MinPasses]] at least and more while it is shorter than
  * `seconds`. A job is driven to completion with `fn(spark, sf).count()`,
  * and `TransientCaches.releaseAll()` runs after each one, as between
  * queries in `graft.Bench`, so every job starts from the same caches.
  * run.py compares the collected rows with the job's registry oracle SQL,
  * and every timed count with the oracle's row count. */
object BatchJobs {
  val MinPasses = 2
  val Jobs: Seq[(String, String)] = Seq(
    "span_dedup" -> "wr_span_dedup",
    "pagerank" -> "graph_pagerank_static",
    "gather" -> "graph_gather_2step")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val defs = Jobs.map { case (short, name) =>
      short -> Registry.entries.find(_.name == name).getOrElse(
        throw new IllegalStateException(s"no registry job '$name'"))
    }
    val rng = ctx.rng

    // set-up: every job once, in parallel, collected for the output check
    val warm = ctx.span("setup.warmup") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(defs.size)
      try {
        val rows = defs.map { case (short, q) =>
          short -> pool.submit(() => q.fn(spark, ctx.sf).toJSON.collect().toSeq)
        }.map { case (short, f) => short -> f.get() }
        TransientCaches.releaseAll()
        rows
      } finally pool.shutdown()
    }

    ctx.startTimed()
    val t0 = System.nanoTime()
    def windowS = (System.nanoTime() - t0) / 1e9
    var op = 0
    val runs = Iterator.from(0)
      .takeWhile(pass => pass < MinPasses || windowS < ctx.seconds)
      .flatMap { _ =>
        rng.shuffle(defs).map { case (short, q) =>
          op += 1
          val (n, s) = ctx.time(ctx.span("batch." + short, op) {
            val df = ctx.span("batch.build")(q.fn(spark, ctx.sf))
            ctx.span("batch.count")(df.count())
          })
          TransientCaches.releaseAll()
          (short, n, s)
        }
      }.toList
    val window = windowS

    ctx.out("primary_s") = runs.map(_._3)
    ctx.out("aux_s") = runs.grouped(defs.size).map(_.map(_._3).sum).toSeq
    ctx.out("throughput_per_s") = runs.size / window
    ctx.out("job_s") = defs.map { case (short, _) =>
      short -> runs.filter(_._1 == short).map(_._3)
    }.toMap
    // every job run, set-up ones included, is one op, counted by its
    // output check in run.py
    ctx.out("attempted") = 0
    ctx.out("failed_ops") = 0
    val sql = defs.map { case (short, q) => short -> q.oracle.getOrElse("") }.toMap
    ctx.out("batch_checks") =
      warm.map { case (short, rows) =>
        Map("job" -> short, "sql" -> sql(short), "rows" -> rows.map(RawJson))
      } ++ runs.zipWithIndex.map { case ((short, n, _), i) =>
        Map("job" -> short, "sql" -> sql(short), "count" -> n, "idx" -> i)
      }
  }
}
