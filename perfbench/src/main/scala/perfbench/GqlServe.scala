package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import graft.gql.{GqlApi, GqlParser, GqlServer}

/** `gql_serve`: GraphQL over HTTP against a [[GqlServer]] over the encoded
  * TPC-H graph, closed loop with two clients.
  *
  * The request stream is a sequence of rounds. A round holds the eight
  * read shapes of the registry's gql family once each, with seeded
  * literals, in seeded order, plus one mutation at a seeded position. The
  * clients stop taking requests at the first round boundary after
  * `seconds`, and after [[MinRounds]] rounds at least, so every run serves
  * whole rounds. Mutations add or update
  * customers the benchmark created itself (no `acctbal`, no orders, their
  * own segment), which no read shape can match: every read is checked
  * against its DuckDB oracle SQL on the unmodified tables. */
object GqlServe {
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** One request: its shape, GraphQL document, variables, and the oracle
    * (SQL plus how to flatten the response rows and compare them). */
  final case class Req(idx: Int, shape: String, query: String,
      vars: Map[String, String] = Map.empty, sql: String = "",
      root: String = "", flatten: String = "rows", ordered: Boolean = true) {
    def isWrite: Boolean = shape == "mutation"
    def body: String = {
      val vs = vars.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
        .mkString("{", ",", "}")
      s"""{"query":${Json.quote(query)},"variables":$vs}"""
    }
  }

  private def d(x: Double): String = f"$x%.1f"

  /** The eight read shapes; `r` draws every literal. */
  def read(shape: String, idx: Int, r: scala.util.Random): Req = shape match {
    case "filter_sort_page" =>
      val lo = 1000 + r.nextInt(40) * 100; val hi = lo + 2000 + r.nextInt(30) * 100
      val segs = r.shuffle(Segments).take(2)
      val first = 10 + r.nextInt(21); val offset = r.nextInt(20)
      Req(idx, shape,
        s"""query { queryCustomer(filter: {and: [{acctbal: {between: {min: ${d(lo)}, max: ${d(hi)}}}},
           | {segment: {in: [${segs.map(Json.quote).mkString(", ")}]}}]},
           | order: {desc: acctbal, then: {asc: name}}, first: $first, offset: $offset)
           | { id name acctbal segment } }""".stripMargin,
        sql = s"""SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id, c_name AS name,
           | c_acctbal AS acctbal, c_mktsegment AS segment FROM customer
           | WHERE c_acctbal BETWEEN ${d(lo)} AND ${d(hi)}
           |   AND c_mktsegment IN (${segs.map(s => s"'$s'").mkString(", ")})
           | ORDER BY acctbal DESC, name ASC, id ASC LIMIT $first OFFSET $offset""".stripMargin,
        root = "queryCustomer")
    case "hop_count" =>
      val seg = Segments(r.nextInt(Segments.size)); val first = 10 + r.nextInt(16)
      Req(idx, shape,
        s"""query { queryCustomer(filter: {segment: {eq: "$seg"}},
           | order: {desc: norders, then: {asc: name}}, first: $first)
           | { id name norders: orders { count } } }""".stripMargin,
        sql = s"""SELECT id, name, norders FROM (
           | SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id, c_name AS name,
           |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS norders
           | FROM customer c WHERE c_mktsegment = '$seg')
           | ORDER BY norders DESC, name ASC, id ASC LIMIT $first""".stripMargin,
        root = "queryCustomer")
    case "filtered_count" =>
      val p = 200000 + r.nextInt(10) * 10000; val first = 10 + r.nextInt(16)
      Req(idx, shape,
        s"""query { queryCustomer(order: {desc: nbig, then: {asc: name}}, first: $first)
           | { id name nbig: orders(filter: {totalprice: {gt: ${d(p)}}}) { count } } }""".stripMargin,
        sql = s"""SELECT id, name, nbig FROM (
           | SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id, c_name AS name,
           |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey
           |    AND o.o_totalprice > ${d(p)}) AS nbig
           | FROM customer c)
           | ORDER BY nbig DESC, name ASC, id ASC LIMIT $first""".stripMargin,
        root = "queryCustomer")
    case "nested" =>
      val a = 9500 + r.nextInt(5) * 100; val p = 100000 + r.nextInt(10) * 10000
      Req(idx, shape,
        s"""query { queryCustomer(filter: {acctbal: {gt: ${d(a)}}})
           | { name orders(filter: {totalprice: {gt: ${d(p)}}}) { totalprice status } } }""".stripMargin,
        sql = s"""SELECT c_name AS name, o.o_totalprice AS totalprice, o.o_orderstatus AS status
           | FROM customer c LEFT JOIN orders o
           |   ON o.o_custkey = c.c_custkey AND o.o_totalprice > ${d(p)}
           | WHERE c.c_acctbal > ${d(a)}""".stripMargin,
        root = "queryCustomer", flatten = "explode_outer:orders", ordered = false)
    case "nested_topk" =>
      val a = 9500 + r.nextInt(5) * 100; val k = 1 + r.nextInt(3)
      Req(idx, shape,
        s"""query { queryCustomer(filter: {acctbal: {gt: ${d(a)}}})
           | { name orders(order: {desc: totalprice}, first: $k) { totalprice } } }""".stripMargin,
        sql = s"""SELECT name, idx, totalprice FROM (
           | SELECT c.c_name AS name,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY c.c_custkey ORDER BY o.o_totalprice DESC,
           |    'e:Order/' || CAST(o.o_orderkey AS VARCHAR)) AS INT) AS idx,
           |  o.o_totalprice AS totalprice
           | FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
           | WHERE c.c_acctbal > ${d(a)}) t WHERE idx <= $k""".stripMargin,
        root = "queryCustomer", flatten = "posexplode:orders", ordered = false)
    case "quantified_filter" =>
      val p = 350000 + r.nextInt(11) * 10000; val n = 8 + r.nextInt(5)
      Req(idx, shape,
        s"""query { queryCustomer(filter: {and: [
           | {orders: {any: {totalprice: {gt: ${d(p)}}}}}, {orders: {size: {ge: $n}}}]},
           | order: {asc: name}) { name acctbal } }""".stripMargin,
        sql = s"""SELECT c_name AS name, c_acctbal AS acctbal FROM customer c
           | WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
           |   AND o.o_totalprice > ${d(p)})
           |  AND (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) >= $n
           | ORDER BY name""".stripMargin,
        root = "queryCustomer")
    case "aggregate" =>
      val st = Seq("F", "O", "P")(r.nextInt(3))
      Req(idx, shape,
        """query AggOrders($st: String) { aggregateOrder(filter: {status: {eq: $st}})
          | { count totalpriceMin totalpriceMax totalpriceSum totalpriceAvg } }""".stripMargin,
        vars = Map("st" -> st),
        sql = s"""SELECT count(*) AS count, min(o_totalprice) AS "totalpriceMin",
           | max(o_totalprice) AS "totalpriceMax", sum(o_totalprice) AS "totalpriceSum",
           | avg(o_totalprice) AS "totalpriceAvg"
           | FROM orders WHERE o_orderstatus = '$st'""".stripMargin,
        root = "aggregateOrder")
    case "datetime_filter" =>
      val from = java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2300))
      val to = from.plusDays(30 + r.nextInt(31))
      val p = 150000 + r.nextInt(11) * 10000; val first = 20 + r.nextInt(31)
      // the lower bound is written in a +02:00 zone: 02:00 there is 00:00 UTC
      Req(idx, shape,
        s"""query { queryOrder(filter: {and: [
           | {orderdate: {ge: "${from}T02:00:00+02:00"}}, {orderdate: {lt: "$to 00:00:00"}},
           | {totalprice: {gt: ${d(p)}}}]}, order: {desc: totalprice}, first: $first)
           | { id totalprice orderdate } }""".stripMargin,
        sql = s"""SELECT 'e:Order/' || CAST(o_orderkey AS VARCHAR) AS id,
           | o_totalprice AS totalprice, o_orderdate AS orderdate FROM orders
           | WHERE o_orderdate >= TIMESTAMP '$from 00:00:00'
           |   AND o_orderdate < TIMESTAMP '$to 00:00:00' AND o_totalprice > ${d(p)}
           | ORDER BY totalprice DESC, id ASC LIMIT $first""".stripMargin,
        root = "queryOrder")
  }

  val MinRounds = 1

  val Shapes: Seq[String] = Seq("filter_sort_page", "hop_count", "filtered_count",
    "nested", "nested_topk", "quantified_filter", "aggregate", "datetime_filter")

  /** Mutations over the benchmark's own customers, with the expected final
    * (name, segment) of each. */
  final class Writer(seed: Long) {
    val expected = mutable.LinkedHashMap.empty[String, (String, String)]
    private var n = 0
    def next(idx: Int, r: scala.util.Random): Req = {
      n += 1
      if (expected.isEmpty || r.nextInt(2) == 0) {
        val id = s"pb${seed}n$n"; val name = s"perfbench-$seed-$n"
        expected(s"e:Customer/$id") = (name, "PB0")
        Req(idx, "mutation",
          s"""mutation { addCustomer(input: [{id: "$id", name: "$name", segment: "PB0"}]) }""")
      } else {
        val ids = expected.keys.toIndexedSeq
        val id = ids(r.nextInt(ids.size)); val seg = s"PB$n"
        expected(id) = (expected(id)._1, seg)
        Req(idx, "mutation",
          s"""mutation { updateCustomer(input: {filter: {id: "$id"}, set: {segment: "$seg"}}) }""")
      }
    }
  }

  final case class Done(req: Req, startUs: Long, endUs: Long, status: Int, body: String) {
    def latS: Double = (endUs - startUs) / 1e6
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val schema = GqlParser.parseSchema(graft.queries.Extended.TpchGqlSchema)
    val g0 = ctx.span("setup.encode") {
      val g = graft.core.GraphEncoder.encodeTpch(spark, ctx.sf)
      g.atoms.count(); g.values.count(); g
    }
    val server = new GqlServer(schema, g0)
    val port = server.start()
    val http = HttpClient.newHttpClient()
    def post(req: Req): Done = {
      val hr = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/graphql"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(req.body)).build()
      val t0 = Trace.nowUs
      val resp = http.send(hr, HttpResponse.BodyHandlers.ofString())
      Done(req, t0, Trace.nowUs, resp.statusCode(), resp.body())
    }
    val writer = new Writer(ctx.seed)
    val rng = ctx.rng
    try {
      // warm-up: every shape and a mutation once in-process, in parallel,
      // on literals of their own (the mutation's graph is dropped); then
      // one read and one mutation over HTTP
      val warm = ctx.span("setup.warmup") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        def async(f: => Unit) = pool.submit(new Runnable { def run(): Unit = f })
        try {
          (Shapes.map(s => read(s, -1, rng)).map(req => async {
            GqlApi.query(g0.now, schema, req.query, req.vars).toJSON.collect()
          }) :+ async {
            GqlApi.mutate(g0, schema, """mutation { addCustomer(input: [{id: "pbwarm",
              | name: "perfbench-warm", segment: "PB0"}]) }""".stripMargin)
          }).foreach(_.get())
        } finally pool.shutdown()
        Seq(post(read(Shapes(rng.nextInt(Shapes.size)), -1, rng)), post(writer.next(-1, rng)))
      }
      // the timed phase: two clients pull from one round-structured queue
      val gTimed = server.graph
      val t0 = System.nanoTime()
      var idx = 0; var rounds = 0
      val pending = mutable.Queue.empty[Req]
      def take(): Option[Req] = synchronized {
        if (pending.isEmpty && (rounds < MinRounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
          rounds += 1
          val reads = rng.shuffle(Shapes).map { s => idx += 1; read(s, idx, rng) }
          idx += 1
          val w = writer.next(idx, rng)
          val (a, b) = reads.splitAt(rng.nextInt(reads.size + 1))
          pending ++= a ++ Seq(w) ++ b
        }
        if (pending.isEmpty) None else Some(pending.dequeue())
      }
      val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
      ctx.startTimed()
      val clients = (1 to 2).map { _ =>
        val t = new Thread(() => {
          var r = take()
          while (r.isDefined) { done.add(post(r.get)); r = take() }
        })
        t.start(); t
      }
      clients.foreach(_.join())
      val windowS = (System.nanoTime() - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val all = done.asScala.toSeq.sortBy(_.req.idx)
      val reads = all.filterNot(_.req.isWrite)
      val writes = all.filter(_.req.isWrite)
      ctx.out("primary_s") = reads.map(_.latS)
      ctx.out("aux_s") = writes.map(_.latS)
      ctx.out("throughput_per_s") = all.size / windowS
      ctx.out("window_s") = windowS
      // outputs: each read is one op, checked by run.py against DuckDB
      // (a failed HTTP status fails that check); each mutation is one op
      // here, failed unless acknowledged; the read-back of the
      // benchmark's customers is one more op
      def failed(x: Done) = x.status != 200 || x.body.contains("\"errors\"")
      val mutations = (warm ++ all).filter(_.req.isWrite)
      ctx.out("attempted") = mutations.size
      ctx.out("failed_ops") = mutations.count(failed)
      ctx.out("op_errors") = mutations.filter(failed)
        .map(x => s"mutation ${x.req.idx}: ${x.status} ${x.body.take(300)}")
      ctx.out("gql_checks") = (warm ++ all).filterNot(_.req.isWrite).map(x => Map(
        "idx" -> x.req.idx, "shape" -> x.req.shape, "sql" -> x.req.sql,
        "root" -> x.req.root, "flatten" -> x.req.flatten, "ordered" -> x.req.ordered,
        "status" -> x.status, "body" -> RawJson(if (x.status == 200) x.body else Json.quote(x.body))))
      val back = GqlApi.query(server.graph.now, schema,
        s"""{ queryCustomer(filter: {name: {contains: "perfbench-${ctx.seed}-"}}) { id name segment } }""")
        .collect().map(r => r.getAs[String]("id") -> (r.getAs[String]("name"), r.getAs[String]("segment"))).toMap
      val readBackOk = back == writer.expected.toMap
      ctx.out("inline_checks") = Seq(
        Map("name" -> "gql.mutations_read_back", "ok" -> readBackOk,
          "detail" -> (if (readBackOk) s"${back.size} customers" else s"expected ${writer.expected} got $back")))
      if (ctx.trace) replay(ctx, schema, gTimed, all)
    } finally server.stop()
  }

  /** Traced replay: the same requests, in order, in-process on one thread
    * from the graph the timed phase started on, split into parse / compile / plan /
    * collect (reads) and parse / mutate (writes). The transport share of a
    * request is its HTTP latency minus its in-process replay time. */
  private def replay(ctx: Ctx, schema: GqlParser.SchemaDef, g0: graft.core.Graph,
      http: Seq[Done]): Unit = {
    var g = g0
    http.foreach { x =>
      val t0 = Trace.nowUs
      ctx.span(if (x.req.isWrite) "gql.write" else "gql.read", x.req.idx) {
        val op = ctx.span("gql.parse")(GqlParser.parseOperation(x.req.query, x.req.vars))
        if (x.req.isWrite) {
          g = ctx.span("gql.mutate")(GqlApi.mutate(g, schema, op, None, None)._1)
        } else {
          val df = ctx.span("gql.compile")(GqlApi.query(g.now, schema, op, None))
          ctx.collectJson(df)
        }
      }
      val inproc = Trace.nowUs - t0
      val transport = math.max(0L, (x.endUs - x.startUs) - inproc)
      Trace.record("gql.transport", x.startUs, x.startUs + transport)
    }
  }
}
