package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry
import graft.tools.PlanShape

/** Plan-shape regression gate: every registry query's initial physical
  * plan (shuffle count, join strategies, scan count) must match the
  * committed PLANSHAPES.tsv snapshot. A failing diff means a plan
  * changed — if intentional, refresh with
  * `sbt "runMain graft.tools.PlanShape"` and review the TSV diff; if
  * not, a refactor just bought a silent extra shuffle or demoted a
  * broadcast join, exactly the class of regression that is invisible at
  * sf0.001 and fatal at cluster scale. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  // scalar cross-joins (a 1-row aggregate broadcast against the data) are
  // the ONLY sanctioned nested-loop joins; anything else is a plan bug
  private val bnljSanctioned = Set("graph_bulk_rescore", "wr_tfidf_topk",
    // takeWhile's cut probe is a 1-row aggregate broadcast into a
    // nested-loop filter (in-plan since r13 — fn construction is
    // side-effect-free); the scalar cross-join idiom, not a data² join
    "dsl_take_while")

  test("no query's plan regresses vs the committed snapshot") {
    val committed = scala.io.Source.fromFile("PLANSHAPES.tsv").getLines()
      .drop(1).filter(_.nonEmpty).map { l =>
        val f = l.split("\t")
        f(0) -> PlanShape.Shape(f(1).toInt, f(2).toInt, f(3).toInt,
          f(4).toInt, f(5).toInt, f(6).toInt, f(7).toInt, f(8).toInt,
          f(9).toInt, f(10).toInt)
      }.toMap
    val live = PlanShape.snapshot(spark, sf)
    val missing = Registry.entries.map(_.name).filterNot(committed.contains)
    assert(missing.isEmpty,
      s"queries missing from PLANSHAPES.tsv (refresh the snapshot): $missing")
    // RATCHET, not equality: join strategy is statistics-sensitive — a
    // cache materialized by an earlier suite flips a size estimate from
    // child-plan guess to actual bytes and upgrades an SMJ to a broadcast
    // join, so a warmer context can only look BETTER than the snapshot
    // (taken by the canonical fresh-JVM tool run). What must never
    // happen silently is the other direction: more shuffles, a broadcast
    // demoted to sort-merge, a cartesian or nested-loop join appearing.
    val regressed = live.collect {
      case (n, s) if s.shuffles > committed(n).shuffles ||
          s.smj > committed(n).smj ||
          s.cartesian > committed(n).cartesian ||
          s.bnlj > committed(n).bnlj =>
        s"$n: committed=${committed(n)} live=$s"
    }
    assert(regressed.isEmpty, "plan REGRESSIONS vs the snapshot " +
      s"(intentional? refresh PLANSHAPES.tsv):\n${regressed.mkString("\n")}")
    // registry-wide lints, independent of the snapshot
    live.foreach { case (n, s) =>
      assert(s.cartesian == 0, s"$n plans a CartesianProduct")
      assert(s.bnlj == 0 || bnljSanctioned(n),
        s"$n plans a BroadcastNestedLoopJoin outside the sanctioned " +
          "scalar-cross-join set")
      // plan-compile-cost gate, generalized from the LSH <20k spec and
      // converted (r17) from a flat 20k ceiling to a PER-QUERY RATCHET
      // against the committed snapshot: exprs is deterministic, so any
      // real inlined-literal / generated-expression blowup (the
      // ivfAssign/lshPlanes defect class, found twice) shows as GROWTH
      // vs the committed value — and the ratchet is far tighter than a
      // flat ceiling for the typical ~60-expr query, while the known-big
      // legitimate plans stop living one edit from a false trip. No
      // query plan holds the TPC-H encode tree any more (the shared graph
      // is a checkpoint leaf); the biggest fresh plans (wr_simhash,
      // er_infer_nested: ~2.7k) are their own operators' structure
      // (PlanExprs tool). 25%+200 headroom absorbs minor refactors;
      // intentional growth refreshes the TSV.
      val exprBound = committed(n).exprs + committed(n).exprs / 4 + 200
      assert(s.exprs <= exprBound,
        s"$n's analyzed plan grew to ${s.exprs} expression nodes " +
          s"(committed ${committed(n).exprs}, bound $exprBound) — an " +
          "inlined literal or generated-expression blowup; if the growth " +
          "is intentional, refresh PLANSHAPES.tsv")
      // loose hang guard (machine-dependent wall time — the defect class
      // measured 2.5-4 s for ONE operator's plan build; healthy queries
      // sit under ~1 s)
      assert(s.analysisMs < 15000,
        s"$n spent ${s.analysisMs} ms in analyze/optimize/plan")
    }
  }

  test("named-refresh merge skips malformed lines and drops de-registered rows") {
    val full = "1\t2\t3\t4\t5\t6\t7\t8\t9\t10" // current column count
    val parsed = PlanShape.parseExistingRows(
      Seq("name\tshuffles…header",          // header, always dropped
        s"q_live\t$full",
        "q_old\t1\t2\t3",                   // pre-format-change width
        s"q_gone\t$full",                   // no longer in the registry
        "mangled-line-without-a-tab",       // used to throw AIOOBE
        ""),
      registryNames = Set("q_live", "q_old", "q_other"))
    assert(parsed == Map("q_live" -> full))
  }
}
