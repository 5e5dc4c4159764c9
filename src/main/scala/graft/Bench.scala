package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper

/** Registry timer: times every registered query on
  * SPARK_GRAFT_SF_DIR. The judged benchmark, with seeded workloads and a
  * per-layer split, is `perfbench/` (BENCHMARK.json).
  *
  * Protocol (BASELINE.md): per query one warm-up run then `SPARK_GRAFT_RUNS`
  * timed runs (default 3), reporting the median; plus a bulk-load metric
  * (graph encode seconds). `SPARK_GRAFT_ONLY=q1,q2` times just those
  * queries and rejects a name the registry does not hold.
  *
  * Output: the last stdout line is the short [[records]] summary, small
  * enough that a 2,000-character tail of stdout parses. The per-query
  * medians and failed names go to the detail file (SPARK_GRAFT_BENCH_OUT,
  * default BENCH_LAST.json), replaced after every query so that a run
  * killed mid-registry still leaves what it measured, marked "partial".
  */
object Bench {
  private val json = new ObjectMapper()

  private def sec(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP)

  /** The stdout summary line and the detail-file body for `results`, each
    * query's median seconds or None when it failed. `count` is the number
    * of queries run and `value` the total of the medians of those that
    * succeeded. */
  private[graft] def records(results: Seq[(String, Option[Double])],
      sf: String, runs: Int, cpus: Int, bulkLoadSec: Double,
      detailPath: String, partial: Boolean): (String, String) = {
    val medians = results.collect { case (name, Some(s)) => name -> s }
    val failed = results.collect { case (name, None) => name }
    val summary = json.createObjectNode()
      .put("metric", "total").put("value", sec(medians.map(_._2).sum))
      .put("unit", "sec").put("count", results.size)
      .put("failed", failed.size).put("sf", sf)
      .put("runs_per_query", runs).put("cpus", cpus)
      .put("bulk_load_sec", sec(bulkLoadSec)).put("detail", detailPath)
    val detail = summary.deepCopy().put("partial", partial)
    val qs = detail.putObject("queries")
    medians.foreach { case (name, s) => qs.put(name, sec(s)) }
    val fs = detail.putArray("failed_queries")
    failed.foreach(fs.add)
    (json.writeValueAsString(summary), json.writeValueAsString(detail) + "\n")
  }

  /** Readers see the previous complete file or the new one, never a
    * truncated write. */
  private def replaceFile(path: Path, body: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    try {
      Files.writeString(tmp, body)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] cannot write $path: ${e.getMessage}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val out = Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json"))
    val registry = queries.Registry.entries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val unknown = only.toSeq.flatten.filterNot(n => registry.exists(_.name == n))
    if (unknown.nonEmpty) {
      System.err.println("[bench] SPARK_GRAFT_ONLY names unknown queries: " +
        unknown.sorted.map("\"" + _ + "\"").mkString(", "))
      sys.exit(2)
    }
    val spark = GraftSession.local(cpus)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }

    // Class 1: bulk load — relational tables → graph encoding, end to end.
    val loadSecs = time {
      val g = graft.core.GraphEncoder.encodeTpchUncached(spark, sfDir)
      g.atoms.count(); g.values.count()
    }

    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[Double])]
    def flush(partial: Boolean): String = {
      val (line, detail) = records(results.toSeq, sfDir, runs, cpus,
        loadSecs, out.toString, partial)
      replaceFile(out, detail)
      line
    }
    registry.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      val secs = try {
        q.fn(spark, sfDir).count() // warm-up (also primes graph caches)
        Some(median((1 to runs).map(_ => time(q.fn(spark, sfDir).count()))))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
        None
      } finally {
        // cache hygiene: drop THIS query's transient derived caches
        // (shared encoder graphs stay warm) so late-registry queries
        // measure their plans, not 90 predecessors' eviction churn
        graft.core.TransientCaches.releaseAll()
      }
      results += q.name -> secs
      flush(partial = true)
    }
    println(flush(partial = false))
    spark.stop()
  }
}
