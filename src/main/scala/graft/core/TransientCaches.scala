package graft.core

import org.apache.spark.sql.DataFrame

/** Registry of TRANSIENT pinned tables: every persisted table a query
  * creates on the side (a derived graph's latest-values cache, a
  * NestedInfer result graph) registers here, and batch harnesses
  * (Bench/Verify) call [[releaseAll]] between queries.
  *
  * Why: Spark's CacheManager holds strong references, so a persisted
  * DataFrame outlives the Graph instance that created it. A 95-query
  * registry run otherwise accumulates every query's derived caches for the
  * whole run; the big SHARED caches (the bulk-encoded graphs) then fight
  * ~20 dead tables for executor memory and late queries pay eviction/GC
  * churn — measured as er_infer_nested at 11.9 s in-run vs 3.9 s isolated.
  *
  * Graphs memoized across queries (GraphEncoder's bulk-load cache, the
  * register-once GraphQL graph) are marked SHARED and never released here.
  * Long-running services that never call releaseAll only accumulate the
  * small Graph handles — the pinned data itself is already held by the
  * CacheManager either way.
  */
object TransientCaches {

  private val graphs = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Graph, java.lang.Boolean]())
  private val shared = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Graph, java.lang.Boolean]())
  private val tables = new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]()

  /** Called by Graph whenever it pins a latest-values table; no-op for
    * graphs previously marked shared. */
  private[core] def trackGraph(g: Graph): Unit = synchronized {
    if (!shared.contains(g)) graphs.add(g)
  }

  /** Exempt a graph that is intentionally memoized across queries
    * (bulk-load caches, register-once server graphs): its derived tables
    * survive [[releaseAll]]. */
  def markShared(g: Graph): Unit = synchronized {
    shared.add(g)
    graphs.remove(g)
  }

  /** Track a bare persisted table (e.g. a derived graph's atoms/values)
    * for release between queries. Returns the table for chaining. */
  def trackTable(df: DataFrame): DataFrame = synchronized {
    tables.put(df, java.lang.Boolean.TRUE)
    df
  }

  /** Unpersist every transient table pinned since the last call. Safe to
    * call mid-session: released tables recompute lazily on next read.
    * Tables a SHARED graph currently serves are spared even when a
    * non-shared graph owns them (the borrowed-seed case: a no-new-values
    * transact hands the parent's table to the child by reference, and only
    * the child gets marked shared — releasing the parent would silently
    * unpersist the shared graph's cache out from under it). */
  def releaseAll(): Unit = {
    // Lock-order discipline: Graph.latestValues holds its latestValuesCache
    // monitor and calls trackGraph (takes this monitor), so this method must
    // NEVER call into a Graph while holding this monitor — g.cachedTables
    // takes the graph's monitor and the two would deadlock ABBA. Snapshot
    // the registries under this monitor, then query the shared graphs
    // lock-free.
    val (gs, ts, sharedSnap) = synchronized {
      val gs = new java.util.ArrayList[Graph](graphs)
      val ts = new java.util.ArrayList[DataFrame](tables.keySet())
      graphs.clear(); tables.clear()
      val sharedSnap = new java.util.ArrayList[Graph](shared)
      (gs, ts, sharedSnap)
    }
    val protect = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    sharedSnap.forEach(g => g.cachedTables.foreach(protect.add))
    gs.forEach(_.releaseDerived(protect))
    ts.forEach(t => if (!protect.contains(t)) t.unpersist(false))
  }
}
