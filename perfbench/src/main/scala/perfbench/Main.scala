package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, run the timed phase of one
  * workload, write `raw.json` into the work directory for `run.py` (which
  * checks outputs against DuckDB and prints the result line).
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --sf-dir D
  * --work-dir D, and --input-dir D for ingest_asof. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("sf-dir"), a("work-dir"), a)
    val sessionStart = Trace.nowUs
    val spark = graft.GraftSession.builder(Runtime.getRuntime.availableProcessors())
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    val sessionS = (Trace.nowUs - sessionStart) / 1e6
    if (ctx.trace) {
      Trace.install(spark)
      Trace.record("setup.session", sessionStart, Trace.nowUs)
    }
    val code = try {
      ctx.workload match {
        case "gql_serve" => GqlServe.run(ctx)
        case "ingest_asof" => IngestAsOf.run(ctx)
        case "batch_jobs" => BatchJobs.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      ctx.out("cache_mb") = cacheMb(spark)
      ctx.out("setup_parts") = ctx.setupParts ++ Map("session_s" -> sessionS)
      if (ctx.trace) {
        Trace.drain(spark)
        ctx.out("trace") = traceOut(ctx)
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.out("error") = String.valueOf(e)
        1
    }
    ctx.out("versions") = Map(
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "cores" -> Runtime.getRuntime.availableProcessors())
    Files.writeString(Paths.get(ctx.work, "raw.json"), Json(ctx.out.toMap))
    // nothing is left to flush: run.py deletes the work directory, Spark's
    // local dirs included, so skip the slow orderly shutdown
    Runtime.getRuntime.halt(code)
  }

  /** Memory plus disk held by cached and checkpointed RDD blocks, in MiB,
    * once blocks whose RDDs are no longer referenced are dropped: a full
    * GC lets Spark's ContextCleaner unpersist them, and the figure is read
    * when it has not changed for a second (five seconds at most). */
  def cacheMb(spark: SparkSession): Double = {
    def held() = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    System.gc(); Thread.sleep(200); System.gc()
    var now = held(); var steady = 0; var polls = 0
    while (steady < 5 && polls < 25) {
      Thread.sleep(200); polls += 1
      val next = held()
      steady = if (next == now) steady + 1 else 0
      now = next
    }
    now / (1024.0 * 1024.0)
  }

  private def traceOut(ctx: Ctx): Map[String, Any] = {
    val rows = Trace.rows()
    val spans = rows.map(r => Map("id" -> r.span.id, "name" -> r.span.name,
      "parent" -> r.span.parent, "op" -> r.span.op,
      "start_us" -> r.span.startUs, "end_us" -> r.span.endUs))
    val layers = rows.groupBy(_.span.name).flatMap { case (name, rs) =>
      def f(field: String, g: Trace.Row => Double) = s"$name.$field" -> Stats.median(rs.map(g))
      Seq(
        f("wall_ms", _.wallMs), f("self_ms", _.selfMs),
        f("driver_ms", _.driverMs), f("plan_ms", _.planMs),
        f("jobs", _.a.jobs.toDouble), f("stages", _.a.stages.toDouble),
        f("tasks", _.a.tasks.toDouble),
        f("exec_cpu_ms", _.a.cpuNs / 1e6), f("gc_ms", _.a.gcMs.toDouble),
        f("shuffle_mb", _.a.shuffleBytes / 1048576.0),
        f("spill_mb", _.a.spillBytes / 1048576.0))
    }
    // children account for their op: share of each top-level op's wall time
    // covered by its direct child spans, median over ops that have children
    val byParent = rows.groupBy(_.span.parent)
    val coverage = rows.filter(r => r.span.parent == 0 &&
        byParent.contains(r.span.id) && r.wallMs > 0)
      .map(r => 100.0 * (r.wallMs - r.selfMs) / r.wallMs)
    val tracedMs = rows.filter(_.span.parent == 0).map(_.wallMs).sum
    Map("spans" -> spans,
      "layers" -> (layers ++ ctx.extraLayers ++ Map(
        "trace.coverage_pct" -> Stats.median(coverage),
        "trace.overhead_pct" ->
          (if (tracedMs > 0) 100.0 * Trace.listenerNs / 1e6 / tracedMs else 0.0))))
  }
}

/** Per-run context: arguments, the session, timing helpers, and the raw
  * output map that becomes `raw.json`. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val sf: String, val work: String,
    val args: Map[String, String]) {
  var spark: SparkSession = _
  val out = mutable.LinkedHashMap.empty[String, Any]
  val extraLayers = mutable.LinkedHashMap.empty[String, Double]
  val rng = new scala.util.Random(seed)

  /** Run `f` as a traced span; set-up spans are timed in every run. */
  def span[A](name: String, op: Int = -1)(f: => A): A =
    if (!name.startsWith("setup.")) Trace.span(spark, name, op)(f)
    else {
      val (r, s) = time(Trace.span(spark, name, op)(f))
      setupParts(name.stripPrefix("setup.") + "_s") = s
      r
    }
  val setupParts = mutable.LinkedHashMap.empty[String, Double]

  /** Time `f` in seconds. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Mark the start of the timed phase: everything before it is set-up. */
  def startTimed(): Unit = out("first_op_epoch_ms") = System.currentTimeMillis()

  /** Collect `df` as JSON rows, as the GraphQL server does: plan the
    * `toJSON` Dataset (Catalyst analysis + optimization + planning, forcing
    * its executed plan; the phase times go to the `spark.plan` span), then
    * collect it, which reuses that plan. */
  def collectJson(df: DataFrame): Seq[String] = {
    val js = df.toJSON
    span("spark.plan") {
      val qe = js.queryExecution
      qe.executedPlan
      if (Trace.enabled) {
        val ph = qe.tracker.phases
        Trace.addPlanMs(Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs.toDouble).sum)
      }
    }
    span("spark.collect")(js.collect().toSeq)
  }
}

/** Minimal JSON writer for the raw output (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case RawJson(s) => s
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** A string that is already JSON (a Spark `toJSON` row, an HTTP body). */
final case class RawJson(s: String)
