package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and the Spark-side attribution of the traced run.
  *
  * A span is a named interval on the driver (name, start, end, parent, op
  * id). While a span is open on a thread, that thread's Spark local
  * property [[Trace.SpanKey]] carries the span id, so every job the thread
  * submits is attributed to the innermost open span by the listener below.
  * Jobs of a streaming micro-batch carry Spark's own batch-id property
  * instead and are attributed to that tick's `fx.tick` span, which is built
  * from the [[StreamingQueryListener]] progress reports.
  *
  * When tracing is off, [[span]] only runs its body: the timed runs pay for
  * no listener and no bookkeeping. */
object Trace {
  val SpanKey = "perfbench.span"
  private val BatchIdKey = "streaming.sql.batchId"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startUs: Long, endUs: Long, planMs: Double = 0.0)

  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }

  @volatile var enabled = false
  private val t0Nano = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0EpochUs + (System.nanoTime() - t0Nano) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }

  // listener state: job -> owner key; stage -> owner key; per-owner sums.
  // An owner key is "s<spanId>" or "b<batchId>".
  private val jobOwner = mutable.Map.empty[Int, String]
  private val stageOwner = mutable.Map.empty[Int, String]
  private val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val acc = mutable.Map.empty[String, Acc]
  // (batch id, start, end, queryPlanning ms) per streaming progress report
  private val ticks = mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
  @volatile var listenerNs = 0L

  private def accOf(k: String): Acc = acc.getOrElseUpdate(k, new Acc)

  /** Run `f` as span `name`. A span opened with no span open on the thread
    * starts a new op; `op` names it explicitly (the request index). */
  def span[A](spark: SparkSession, name: String, op: Int = -1)(f: => A): A = {
    if (!enabled) return f
    val outer = stack.get()
    val id = synchronized { val i = nextId; nextId += 1; i }
    val opId = outer.headOption.map(_._2).getOrElse(if (op >= 0) op else id)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    stack.set((id, opId) :: outer)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = nowUs
    try f
    finally {
      val end = nowUs
      synchronized { spans += Span(id, name, outer.headOption.map(_._1).getOrElse(0), opId, start, end) }
      stack.set(outer)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Record a span measured elsewhere (the HTTP transport share). */
  def record(name: String, startUs: Long, endUs: Long): Unit =
    if (enabled) synchronized {
      val i = nextId; nextId += 1
      spans += Span(i, name, 0, i, startUs, endUs)
    }

  /** Add Catalyst phase time (analysis + optimization + planning) to the
    * innermost open span. */
  def addPlanMs(ms: Double): Unit = if (enabled) {
    val top = stack.get().headOption.map(_._1)
    top.foreach(id => synchronized { planExtra(id) = planExtra.getOrElse(id, 0.0) + ms })
  }
  private val planExtra = mutable.Map.empty[Int, Double]

  def install(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = timed {
        val p = Option(e.properties)
        val owner = p.flatMap(x => Option(x.getProperty(BatchIdKey))).map("b" + _)
          .orElse(p.flatMap(x => Option(x.getProperty(SpanKey))).map("s" + _))
          .getOrElse("s0")
        Trace.synchronized {
          jobOwner(e.jobId) = owner
          jobStartMs(e.jobId) = e.time
          e.stageIds.foreach(s => stageOwner(s) = owner)
          accOf(owner).jobs += 1
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
        Trace.synchronized {
          for (o <- jobOwner.get(e.jobId); s <- jobStartMs.remove(e.jobId))
            jobIntervals += ((o, s * 1000L, e.time * 1000L))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
        Trace.synchronized {
          stageOwner.get(e.stageInfo.stageId).foreach(o => accOf(o).stages += 1)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
        val m = e.taskMetrics
        Trace.synchronized {
          stageOwner.get(e.stageId).foreach { o =>
            val a = accOf(o)
            a.tasks += 1
            if (m != null) {
              a.cpuNs += m.executorCpuTime
              a.gcMs += m.jvmGCTime
              a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten
              a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        Trace.synchronized {
          ticks += ((p.batchId, startUs, startUs + ms("triggerExecution") * 1000L,
            ms("queryPlanning").toDouble))
        }
      }
    })
  }

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime(); f; listenerNs += System.nanoTime() - t
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Everything the run recorded: spans (ticks included), and per span the
    * inclusive Spark totals (its own jobs plus its descendants'). */
  final case class Row(span: Span, wallMs: Double, selfMs: Double,
      driverMs: Double, planMs: Double, a: Acc)

  def rows(): Seq[Row] = synchronized {
    // a tick belongs to the innermost span that was open when it started
    val tickSpans = ticks.map { case (b, s, e, plan) =>
      val i = nextId; nextId += 1
      val parent = spans.filter(p => p.startUs <= s && s <= p.endUs)
        .minByOption(p => p.endUs - p.startUs)
      (b, Span(i, "fx.tick", parent.map(_.id).getOrElse(0),
        parent.map(_.op).getOrElse(i), s, e, plan))
    }
    val all = spans.toSeq ++ tickSpans.map(_._2)
    val batchOwner = tickSpans.map { case (b, sp) => s"b$b" -> sp.id }.toMap
    def ownerSpan(o: String): Int =
      if (o.startsWith("b")) batchOwner.getOrElse(o, 0) else o.drop(1).toInt
    val children = all.groupBy(_.parent)
    def subtree(id: Int): Set[Int] =
      children.getOrElse(id, Nil).foldLeft(Set(id))((s, c) => s ++ subtree(c.id))
    all.map { sp =>
      val ids = subtree(sp.id)
      val a = new Acc
      acc.foreach { case (o, x) =>
        if (ids.contains(ownerSpan(o))) {
          a.jobs += x.jobs; a.stages += x.stages; a.tasks += x.tasks
          a.cpuNs += x.cpuNs; a.gcMs += x.gcMs
          a.shuffleBytes += x.shuffleBytes; a.spillBytes += x.spillBytes
        }
      }
      // job time covered inside the span (union of intervals, clipped)
      val ivs = jobIntervals.collect { case (o, s, e) if ids.contains(ownerSpan(o)) =>
        (math.max(s, sp.startUs), math.min(e, sp.endUs)) }.filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      val wall = (sp.endUs - sp.startUs) / 1000.0
      val childWall = children.getOrElse(sp.id, Nil)
        .map(c => (c.endUs - c.startUs) / 1000.0).sum
      Row(sp, wall, wall - childWall, wall - covered / 1000.0,
        sp.planMs + planExtra.getOrElse(sp.id, 0.0), a)
    }
  }
}
