package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.core.{AtomSet, GraphEncoder, PutField}
import graft.gql.GqlLite
import graft.wrangling.EntityResolution

/** GraphQL front-end (§3.3), entity resolution (§2.12), and recursive
  * traversal (§2.1 gather) — oracle-verified. */
object Extended {

  /** SimpleGQL schema over the TPC-H-encoded graph — the SDL input for the
    * parsed-text queries (schema_file_parser.py grammar: scalars, `!`,
    * `[T]`, @unique/@search/@relation(rt:)/@incoming). */
  val TpchGqlSchema: String =
    """# Zef.SchemaVersion: v1
      |type Customer {
      |  name: String! @unique @relation(rt: "c_name")
      |  acctbal: Float @search @relation(rt: "c_acctbal")
      |  segment: String @search @relation(rt: "c_mktsegment")
      |  orders: [Order] @relation(rt: "Placed")
      |  nation: Nation @relation(rt: "MemberOf")
      |}
      |type Order {
      |  totalprice: Float @search @relation(rt: "o_totalprice")
      |  status: String @relation(rt: "o_orderstatus")
      |  orderdate: DateTime @relation(rt: "o_orderdate")
      |  customer: Customer @incoming @relation(rt: "Placed")
      |}
      |type Nation {
      |  nname: String @relation(rt: "n_name")
      |  customers: [Customer] @incoming @relation(rt: "MemberOf")
      |}""".stripMargin

  /** Memoized durable FieldIndex over the TPC-H graph's `@search` fields
    * (built once per (session, sfDir), like GraphEncoder's graph cache):
    * the parsed schema DECLARES what gets indexed, the store builds it,
    * queries probe it — the full @search contract. */
  private val indexCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      org.apache.spark.sql.DataFrame]

  def tpchIndex(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Registry.memoize(indexCache, (s, d)) {
      val g = GraphEncoder.encodeTpch(s, d)
      val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
      // pid+session-salted scratch path: writers in other JVMs/sessions
      // can never overwrite the files this cached reader lazily scans
      val path = Registry.scratchDir(s, "graft_fieldindex", d)
      graft.core.FieldIndex.save(
        graft.core.FieldIndex.build(g, schema.searchRts), path)
      graft.core.FieldIndex.load(s, path)
    }

  /** Memoized TPC-H graph with the `custTier` @dynamic resolver registered
    * (register-once, serve-many — the server lifecycle; see
    * `gql_dynamic_field`). */
  private val dynGraphCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), graft.core.Graph]

  val entries: Seq[QueryDef] = Seq(

    // SimpleGQL query root: filter dict + multi-key sort + pagination in
    // ONE Catalyst plan (vs the reference's per-entity resolvers).
    QueryDef(
      "gql_filter_sort_page",
      (s, d) => {
        import GqlLite._
        val g = GraphEncoder.encodeTpch(s, d)
        run(g.now, Query("Customer",
          fields = Seq(("c_name", "v_str", "name"),
            ("c_acctbal", "v_double", "acctbal"),
            ("c_mktsegment", "v_str", "segment")),
          filter = Some(And(Cmp("acctbal", "gt", 1000.0),
            In("segment", Seq("BUILDING", "MACHINERY")))),
          sort = Seq(SortKey("acctbal", asc = false)),
          first = Some(20), offset = Some(5)))
      },
      Some("""SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS atom_id,
             |  c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
             |FROM customer
             |WHERE c_acctbal > 1000.0 AND c_mktsegment IN ('BUILDING', 'MACHINERY')
             |ORDER BY acctbal DESC, atom_id ASC
             |LIMIT 20 OFFSET 5""".stripMargin),
      Seq("gql_query", "filter", "sort", "take", "skip", "pagination")),

    // SimpleGQL aggregate root: count + min/max/sum/avg in one agg pass.
    QueryDef(
      "gql_aggregate",
      (s, d) => {
        import GqlLite._
        val g = GraphEncoder.encodeTpch(s, d)
        aggregate(g.now, "Customer",
          Seq(("c_acctbal", "v_double", "acctbal")),
          filter = Some(Cmp("acctbal", "gt", 1000.0)))
      },
      Some("""SELECT count(*) AS count,
             |  min(c_acctbal) AS acctbal_min, max(c_acctbal) AS acctbal_max,
             |  round(sum(c_acctbal), 2) AS acctbal_sum,
             |  round(avg(c_acctbal), 4) AS acctbal_avg
             |FROM customer WHERE c_acctbal > 1000.0""".stripMargin),
      Seq("gql_aggregate", "count", "min", "max", "sum", "mean")),

    // The GraphQL TEXT surface end-to-end: schema SDL string + query
    // string → GqlParser → GqlApi → the same one-plan compiler. Exercises
    // and/or/not/between/in/contains filters, desc/then-asc sort,
    // first/offset pagination, and field aliases.
    QueryDef(
      "gql_parsed_query",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(
            |    filter: {and: [
            |      {acctbal: {between: {min: 2000.0, max: 9000.0}}},
            |      {or: [{segment: {eq: "BUILDING"}},
            |            {segment: {in: ["MACHINERY"]}}]},
            |      {not: {name: {contains: "9"}}}]},
            |    order: {desc: acctbal, then: {asc: name}},
            |    first: 25, offset: 10) {
            |    id
            |    cname: name
            |    acctbal
            |    segment
            |  }
            |}""".stripMargin)
      },
      Some("""SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id,
             |  c_name AS cname, c_acctbal AS acctbal, c_mktsegment AS segment
             |FROM customer
             |WHERE (c_acctbal BETWEEN 2000.0 AND 9000.0)
             |  AND (c_mktsegment = 'BUILDING' OR c_mktsegment IN ('MACHINERY'))
             |  AND NOT contains(c_name, '9')
             |ORDER BY acctbal DESC, cname ASC, id ASC
             |LIMIT 25 OFFSET 10""".stripMargin),
      Seq("gql_query", "graphql_parse", "filter", "sort", "pagination")),

    // DateTime literals in parsed filters: a ZONED ISO-8601 literal
    // ("+02:00") normalizes to its UTC instant and a zoneless string IS
    // UTC (the session's pinned zone, never the JVM default) — the
    // parser spec pins the unit matrix, this pins it end-to-end: the
    // zoned bound below equals the oracle's UTC timestamp exactly.
    QueryDef(
      "gql_datetime_filter",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryOrder(
            |    filter: {and: [
            |      {orderdate: {ge: "1998-06-15T02:00:00+02:00"}},
            |      {orderdate: {lt: "1998-08-01 00:00:00"}},
            |      {totalprice: {gt: 200000.0}}]},
            |    order: {desc: totalprice}, first: 40) {
            |    id
            |    totalprice
            |    orderdate
            |  }
            |}""".stripMargin)
      },
      Some("""SELECT 'e:Order/' || CAST(o_orderkey AS VARCHAR) AS id,
             |  o_totalprice AS totalprice, o_orderdate AS orderdate
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1998-06-15 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-08-01 00:00:00'
             |  AND o_totalprice > 200000.0
             |ORDER BY totalprice DESC, id ASC
             |LIMIT 40""".stripMargin),
      Seq("gql_query", "graphql_parse", "datetime", "zone_normalize",
        "filter")),

    // Parsed relation-hop count (`orders { count }`) + sort on the hop —
    // still one aggregated join, no per-entity resolvers.
    QueryDef(
      "gql_parsed_hop",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(order: {desc: norders, then: {asc: name}},
            |                first: 15) {
            |    id
            |    name
            |    norders: orders { count }
            |  }
            |}""".stripMargin)
      },
      Some("""SELECT id, name, norders FROM (
             |  SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id,
             |    c_name AS name,
             |    (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS norders
             |  FROM customer c)
             |ORDER BY norders DESC, name ASC, id ASC
             |LIMIT 15""".stripMargin),
      Seq("gql_query", "graphql_parse", "relation_hop", "Outs")),

    // FILTERED relation count (aggregate resolution over the filtered
    // list, generate_api2.py:442-481): the filter: argument folds into
    // the count join as a CondHop — the count-join's child probe runs the
    // child filter, so only qualifying orders are counted, still one
    // plan, no per-entity resolution.
    QueryDef(
      "gql_filtered_count",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(order: {desc: nbig, then: {asc: name}},
            |                first: 20) {
            |    id
            |    name
            |    nbig: orders(filter: {totalprice: {gt: 250000.0}}) { count }
            |  }
            |}""".stripMargin)
      },
      Some("""SELECT id, name, nbig FROM (
             |  SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS id,
             |    c_name AS name,
             |    (SELECT count(*) FROM orders o
             |     WHERE o.o_custkey = c.c_custkey
             |       AND o.o_totalprice > 250000.0) AS nbig
             |  FROM customer c)
             |ORDER BY nbig DESC, name ASC, id ASC
             |LIMIT 20""".stripMargin),
      Seq("gql_query", "graphql_parse", "relation_hop", "filtered_count",
        "count")),

    // Nested entity sub-selection (internal_resolve_field,
    // generate_api2.py:911-970) as ONE aggregated join: child selection
    // compiled to its own frame, packed per parent as array<struct> —
    // flattened here with explode_outer so DuckDB can check it (empty
    // arrays must survive as one null child row, like a LEFT JOIN).
    QueryDef(
      "gql_parsed_nested",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        val df = graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(filter: {acctbal: {gt: 9000.0}}) {
            |    name
            |    orders(filter: {totalprice: {gt: 100000.0}}) {
            |      totalprice
            |      status
            |    }
            |  }
            |}""".stripMargin)
        df.select(col("name"), explode_outer(col("orders")).as("o"))
          .select(col("name"), col("o.totalprice").as("totalprice"),
            col("o.status").as("status"))
          .orderBy(col("name"), col("totalprice"))
      },
      Some("""SELECT c_name AS name, o.o_totalprice AS totalprice,
             |  o.o_orderstatus AS status
             |FROM customer c LEFT JOIN orders o
             |  ON o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
             |WHERE c.c_acctbal > 9000.0
             |ORDER BY name, totalprice""".stripMargin),
      Seq("gql_query", "graphql_parse", "nested_selection", "Outs")),

    // Nested list-params (handle_list_params per parent): top-k orders per
    // customer ORDERED AND SLICED INSIDE the packed array (array_sort
    // comparator + slice — per-parent top-k with no extra shuffle);
    // posexplode emits the position so DuckDB's ROW_NUMBER can check the
    // order exactly, ties broken by child atom id on both sides.
    QueryDef(
      "gql_nested_topk",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        val df = graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(filter: {acctbal: {gt: 9000.0}}) {
            |    name
            |    orders(order: {desc: totalprice}, first: 2) {
            |      totalprice
            |    }
            |  }
            |}""".stripMargin)
        df.select(col("name"), posexplode(col("orders")))
          .select(col("name"), (col("pos") + 1).cast("int").as("idx"),
            col("col.totalprice").as("totalprice"))
          .orderBy(col("name"), col("idx"))
      },
      Some("""SELECT name, idx, totalprice FROM (
             |  SELECT c.c_name AS name,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY c.c_custkey
             |      ORDER BY o.o_totalprice DESC,
             |        'e:Order/' || CAST(o.o_orderkey AS VARCHAR)) AS INT) AS idx,
             |    o.o_totalprice AS totalprice
             |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
             |  WHERE c.c_acctbal > 9000.0) t
             |WHERE idx <= 2
             |ORDER BY name, idx""".stripMargin),
      Seq("gql_query", "nested_selection", "nested_order", "nested_first", "top_k")),

    // List-quantifier filters (build_filter_zefop, generate_api2.py:839-862):
    // any → semi-join count > 0, size → plain count compare; both as
    // count-join columns materialized before the filter, still one plan.
    QueryDef(
      "gql_quantified_filter",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query {
            |  queryCustomer(filter: {and: [
            |      {orders: {any: {totalprice: {gt: 400000.0}}}},
            |      {orders: {size: {ge: 10}}}]},
            |    order: {asc: name}) {
            |    name
            |    acctbal
            |  }
            |}""".stripMargin)
      },
      Some("""SELECT c_name AS name, c_acctbal AS acctbal
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_totalprice > 400000.0)
             |  AND (SELECT count(*) FROM orders o
             |        WHERE o.o_custkey = c.c_custkey) >= 10
             |ORDER BY name""".stripMargin),
      Seq("gql_query", "graphql_parse", "quantifier_filter", "any", "size")),

    // Parsed aggregate root with variables: count + Min/Max/Sum/Avg.
    QueryDef(
      "gql_parsed_aggregate",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val schema = graft.gql.GqlParser.parseSchema(TpchGqlSchema)
        graft.gql.GqlApi.query(g.now, schema,
          """query AggOrders($st: String) {
            |  aggregateOrder(filter: {status: {eq: $st}}) {
            |    count
            |    totalpriceMin
            |    totalpriceMax
            |    totalpriceSum
            |    totalpriceAvg
            |  }
            |}""".stripMargin,
          vars = Map("st" -> "F"))
      },
      Some("""SELECT count(*) AS count,
             |  min(o_totalprice) AS "totalpriceMin",
             |  max(o_totalprice) AS "totalpriceMax",
             |  round(sum(o_totalprice), 2) AS "totalpriceSum",
             |  round(avg(o_totalprice), 4) AS "totalpriceAvg"
             |FROM orders WHERE o_orderstatus = 'F'""".stripMargin),
      Seq("gql_aggregate", "graphql_parse", "variables")),

    // identify_entities: resolve incoming records (half real names, half
    // unknown) against the graph store by field value.
    QueryDef(
      "er_identify_entities",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val cust = graft.Tables.customer(s, d)
        val incoming = cust.filter(col("c_custkey") <= 40)
          .select(col("c_custkey").as("in_id"), col("c_name").as("cname"))
          .unionAll(cust.filter(col("c_custkey") <= 10)
            .select((col("c_custkey") + 100000).as("in_id"),
              concat(col("c_name"), lit("-unknown")).as("cname")))
        EntityResolution.identifyEntities(incoming, g.now,
          "Customer", "c_name", "cname")
          .orderBy(col("in_id"))
      },
      Some("""WITH incoming AS (
             |  SELECT c_custkey AS in_id, c_name AS cname FROM customer WHERE c_custkey <= 40
             |  UNION ALL
             |  SELECT c_custkey + 100000, c_name || '-unknown' FROM customer WHERE c_custkey <= 10)
             |SELECT i.in_id, i.cname,
             |  CASE WHEN c.c_custkey IS NULL THEN NULL
             |       ELSE 'e:Customer/' || CAST(c.c_custkey AS VARCHAR) END AS matched_atom_id
             |FROM incoming i LEFT JOIN customer c ON i.cname = c.c_name
             |ORDER BY in_id""".stripMargin),
      Seq("identify_entities", "deduplicate", "lookup_join")),

    // select_by_field: the indexed lookup — value predicate pushed into the
    // values scan first, entity join last (reference benchmark_filter.py's
    // whole reason to exist).
    QueryDef(
      "graph_select_by_field",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        g.now.selectByField("Customer", "c_mktsegment", "v_str", "BUILDING")
          .df.select(col("atom_id")).orderBy(col("atom_id"))
      },
      Some("""SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS atom_id
             |FROM customer WHERE c_mktsegment = 'BUILDING'
             |ORDER BY atom_id""".stripMargin),
      Seq("select_by_field", "filter", "all")),

    // Nested infer_types end-to-end (data_wrangling.py:19-163): nested JSON
    // docs (customer ⊃ nation object ⊃ phones array) → flatten → rule
    // fixpoint (chained rules: Nation is only typable AFTER Customer) →
    // graph emission → typed traversal. The oracle computes the expected
    // result straight from the relational tables — if flattening, the
    // fixpoint, array preservation, or the typed traversal were wrong, the
    // join/count/min below would all diverge.
    QueryDef(
      "er_infer_nested",
      (s, d) => {
        import graft.wrangling.NestedInfer
        import NestedInfer._
        val cust = graft.Tables.customer(s, d).filter(col("c_custkey") < 300)
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
        val g = NestedInfer.toGraph(
          NestedInfer.inferTypes(docs, "doc_id", "doc", rules))
        val custSet = g.now.all("Customer")
        val names = custSet.fieldValue("name", "v_str", "cname")
        val nations = custSet.outsWithSource("nation", "__cust").df
          .filter(col("atype") === "Nation")
        val nname = graft.core.AtomSet(g.now, nations).field("name")
          .select(col("__cust").as("atom_id"), col("v_str").as("nname"))
        val phones = custSet.field("phones")
          .groupBy("atom_id")
          .agg(count(lit(1)).as("nphones"), min(col("v_str")).as("phone_min"))
        names.join(nname, "atom_id").join(phones, "atom_id")
          .select(col("cname"), col("nname"), col("nphones"), col("phone_min"))
          .orderBy(col("cname"))
      },
      Some("""SELECT c_name AS cname, n_name AS nname,
             |  CAST(2 AS BIGINT) AS nphones,
             |  c_name || '-p1' AS phone_min
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_custkey < 300
             |ORDER BY cname""".stripMargin),
      Seq("infer_types", "flatten_object", "rule_fixpoint", "Outs", "field")),

    // select_by_field through the DURABLE value-hash index (the reference's
    // declared-index intent: @search in the schema SDL → FieldIndex on
    // disk → partition-pruned, hash-sorted probe + exact as-of re-check).
    // Same oracle as graph_select_by_field — identical results, indexed plan.
    QueryDef(
      "graph_select_by_field_indexed",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        g.now.selectByFieldIndexed(tpchIndex(s, d),
          "Customer", "c_mktsegment", "v_str", "BUILDING")
          .df.select(col("atom_id")).orderBy(col("atom_id"))
      },
      Some("""SELECT 'e:Customer/' || CAST(c_custkey AS VARCHAR) AS atom_id
             |FROM customer WHERE c_mktsegment = 'BUILDING'
             |ORDER BY atom_id""".stripMargin),
      Seq("select_by_field", "field_index", "search_directive")),

    // yo as data (yo.py:243 eternalist_view): the per-atom summary report —
    // identity, instantiation, fields with as-of values + assignment
    // counts, grouped in/out relations — over atoms from BOTH graphs: two
    // single-slice TPC-H entities (fields + both relation directions) and
    // three multi-slice event users (assignment counts > 1, latest-value
    // resolution, first-event instantiation time). The oracle rebuilds
    // every row relationally.
    QueryDef(
      "graph_yo_report",
      (s, d) => {
        val gT = GraphEncoder.encodeTpch(s, d)
        val gE = GraphEncoder.encodeEventHistory(s, d)
        val tpchSet = AtomSet(gT.now,
          gT.now.aliveAtoms.filter(
            col("atom_id").isin("e:Customer/1", "e:Nation/0")))
        val userSet = AtomSet(gE.now,
          gE.now.aliveAtoms.filter(
            col("atom_id").isin("e:User/1", "e:User/2", "e:User/3")))
        tpchSet.yo.unionByName(userSet.yo)
          .orderBy(col("atom_id"), col("section"), col("label"), col("detail"))
      },
      Some("""WITH cust1 AS (SELECT * FROM customer WHERE c_custkey = 1),
             |nat0 AS (SELECT * FROM nation WHERE n_nationkey = 0),
             |ev AS (SELECT * FROM events WHERE user_id IN (1, 2, 3)),
             |evagg AS (
             |  SELECT user_id, count(*) AS n, min(ts) AS first_ts,
             |         max(ts) AS last_ts
             |  FROM ev GROUP BY user_id),
             |evlat AS (
             |  SELECT user_id, value, event_type FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
             |  WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT 'e:Customer/1' AS atom_id, 'identity' AS section,
             |    'entity' AS label, 'Customer' AS detail,
             |    CAST(1 AS BIGINT) AS n, CAST(NULL AS TIMESTAMP) AS at
             |  UNION ALL SELECT 'e:Nation/0','identity','entity','Nation',1,NULL
             |  UNION ALL SELECT 'e:Customer/1','history','instantiated',NULL,1,
             |    TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Nation/0','history','instantiated',NULL,1,
             |    TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Customer/1','field','c_name',
             |    (SELECT c_name FROM cust1),1,TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Customer/1','field','c_acctbal',
             |    (SELECT CAST(CAST(c_acctbal AS DECIMAL(28,6)) AS VARCHAR)
             |     FROM cust1),1,TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Customer/1','field','c_mktsegment',
             |    (SELECT c_mktsegment FROM cust1),1,TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Nation/0','field','n_name',
             |    (SELECT n_name FROM nat0),1,TIMESTAMP '2024-01-01 00:00:00'
             |  UNION ALL SELECT 'e:Customer/1','relation_out','MemberOf',
             |    'Nation',1,NULL
             |  UNION ALL SELECT * FROM (
             |    SELECT 'e:Customer/1','relation_out','Placed','Order',
             |      count(*), CAST(NULL AS TIMESTAMP)
             |    FROM orders WHERE o_custkey = 1 HAVING count(*) > 0)
             |  UNION ALL SELECT * FROM (
             |    SELECT 'e:Nation/0','relation_in','MemberOf','Customer',
             |      count(*), CAST(NULL AS TIMESTAMP)
             |    FROM customer WHERE c_nationkey = 0 HAVING count(*) > 0)
             |  UNION ALL SELECT 'e:User/' || CAST(user_id AS VARCHAR),
             |    'identity','entity','User',1,NULL FROM evagg
             |  UNION ALL SELECT 'e:User/' || CAST(user_id AS VARCHAR),
             |    'history','instantiated',NULL,1,first_ts FROM evagg
             |  UNION ALL SELECT 'e:User/' || CAST(a.user_id AS VARCHAR),
             |    'field','Value',
             |    CAST(CAST(l.value AS DECIMAL(28,6)) AS VARCHAR), a.n,
             |    a.last_ts
             |  FROM evagg a JOIN evlat l USING (user_id)
             |  UNION ALL SELECT 'e:User/' || CAST(a.user_id AS VARCHAR),
             |    'field','EventType', l.event_type, a.n, a.last_ts
             |  FROM evagg a JOIN evlat l USING (user_id)
             |) ORDER BY atom_id, section, label, detail""".stripMargin),
      Seq("yo", "field", "relations", "timeline", "instantiation_tx")),

    // gather: 2-step BFS from one customer over Placed+MemberOf — reaches
    // its orders, its nation, and (via the nation, in-direction) all
    // fellow customers; relation atoms collected too.
    QueryDef(
      "graph_gather_2step",
      (s, d) => {
        val g = GraphEncoder.encodeTpch(s, d)
        val seed = AtomSet(g.now,
          g.atoms.filter(col("atom_id") === "e:Customer/0"))
        seed.gather(Seq("Placed", "MemberOf"), 2)
          .df.groupBy(col("kind"), col("atype"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("kind"), col("atype"))
      },
      Some("""WITH c0 AS (SELECT c_nationkey FROM customer WHERE c_custkey = 0),
             |no AS (SELECT count(*) AS n FROM orders WHERE o_custkey = 0),
             |nc AS (SELECT count(*) AS n FROM customer, c0
             |       WHERE customer.c_nationkey = c0.c_nationkey)
             |SELECT kind, atype, n FROM (
             |  SELECT 'entity' AS kind, 'Customer' AS atype, nc.n FROM nc
             |  UNION ALL SELECT 'entity', 'Nation', 1
             |  UNION ALL SELECT 'entity', 'Order', no.n FROM no
             |  UNION ALL SELECT 'relation', 'MemberOf', nc.n FROM nc
             |  UNION ALL SELECT 'relation', 'Placed', no.n FROM no
             |) ORDER BY kind, atype""".stripMargin),
      Seq("gather", "Outs", "Ins", "blueprint")),

    // @hook mutation hooks (commit_with_post_checks,
    // generate_api2.py:1310-1380): an onCreate hook registered through
    // FnRegistry stamps a derived field on every created entity INSIDE the
    // mutation's transaction — the committed history holds one tx, and the
    // oracle recomputes the hook's derivation straight from the source
    // table, so a hook that didn't fire, fired twice, or landed in a
    // second tx would all diverge.
    QueryDef(
      "gql_hook_mutation",
      (s, d) => {
        import graft.gql.{GqlApi, GqlHooks, GqlLite}
        val schema = graft.gql.GqlParser.parseSchema(
          """type Account @hook(onCreate: "stampTier") {
            |  name: String!
            |  acctbal: Float
            |  tier: String
            |}""".stripMargin)
        var g = graft.core.Graph.empty(s)
        // batch hook: the whole affected set reads as ONE plan (one job),
        // not one Spark job per created object — O(1) jobs for bulk adds
        g = GqlHooks.registerBatchHook(g, "stampTier",
          "affected | fields[RT.Acctbal] | set_field[RT.Tier][b >= 5000 ? GOLD : STD] (in-tx)",
          ctx => ctx.affected(("Acctbal", "v_double", "b")).collect().toSeq
            .map { r =>
              val bal = Option(r.getAs[Any]("b"))
                .map(_.asInstanceOf[Double]).getOrElse(0.0)
              GqlLite.UpdateEntity(r.getAs[String]("atom_id"),
                Map("Tier" -> (if (bal >= 5000.0) "GOLD" else "STD")))
            })._1
        val inputs = graft.Tables.customer(s, d)
          .filter(col("c_custkey") <= 25)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .collect().map { r =>
            s"""{id: "${r.getLong(0)}", name: "${r.getString(1)}", """ +
              s"acctbal: ${r.getDouble(2)}}"
          }.mkString(", ")
        val (g2, _) = GqlApi.mutate(g, schema,
          s"mutation { addAccount(input: [$inputs]) }")
        GqlApi.query(g2.now, schema,
          "{ queryAccount(order: {asc: name}) { id name acctbal tier } }")
      },
      Some("""SELECT 'e:Account/' || CAST(c_custkey AS VARCHAR) AS id,
             |  c_name AS name, c_acctbal AS acctbal,
             |  CASE WHEN c_acctbal >= 5000.0 THEN 'GOLD' ELSE 'STD' END AS tier
             |FROM customer WHERE c_custkey <= 25
             |ORDER BY name""".stripMargin),
      Seq("mutation_hooks", "onCreate", "zef_function", "transact")),

    // @dynamic computed fields (GQL_FunctionResolver,
    // generate_api2.py:938-947): a registered function resolves the field
    // as a Column compiled INTO the one query plan — no per-object server
    // round trips. The resolver's `needs` (acctbal) joins the projection
    // even though only the computed field is selected from it.
    QueryDef(
      "gql_dynamic_field",
      (s, d) => {
        import graft.gql.{GqlApi, GqlHooks}
        val schema = graft.gql.GqlParser.parseSchema(
          """type Customer {
            |  name: String! @unique @relation(rt: "c_name")
            |  acctbal: Float @search @relation(rt: "c_acctbal")
            |  segment: String @search @relation(rt: "c_mktsegment")
            |  tier: String @dynamic(hook: "custTier")
            |}""".stripMargin)
        // register-once, serve-many (the GraphQL server shape): the
        // registered graph is memoized per (session, dir) so repeated
        // queries hit the same warm frame instead of re-transacting the
        // registry entity each call
        val g = Registry.memoize(dynGraphCache, (s, d)) {
          val g0 = GraphEncoder.encodeTpch(s, d)
          val reg = GqlHooks.registerDynamic(g0, "custTier",
            "CASE acctbal >= 5000 GOLD; >= 0 STD; else RISK",
            Seq("acctbal"),
            _ => when(col("acctbal") >= 5000.0, "GOLD")
              .when(col("acctbal") >= 0.0, "STD").otherwise("RISK"))._1
          // memoized across queries → exempt from between-query release;
          // race-free memoize matters here exactly BECAUSE of this
          // markShared (a losing concurrent build would leak forever)
          graft.core.TransientCaches.markShared(reg)
          reg
        }
        GqlApi.query(g.now, schema,
          """{ queryCustomer(filter: {segment: {eq: "BUILDING"}},
            |                order: {asc: name}) {
            |    name
            |    tier
            |} }""".stripMargin)
      },
      Some("""SELECT c_name AS name,
             |  CASE WHEN c_acctbal >= 5000.0 THEN 'GOLD'
             |       WHEN c_acctbal >= 0.0 THEN 'STD'
             |       ELSE 'RISK' END AS tier
             |FROM customer WHERE c_mktsegment = 'BUILDING'
             |ORDER BY name""".stripMargin),
      Seq("dynamic_fields", "zef_function", "gql_query")),

    // sync (fx/zefhub.py: `g | sync` — replicate through the hub; here the
    // hub is shared storage, fx.Sync): the leader graph is the CDC
    // fixture's final state (5 weekly Spend assignments, low spenders
    // terminated at slice 6 — stream_graph_on's graph). Once per session
    // it is published through Sync, and one MORE transaction lands through
    // the synced writer handle: a Bonus field for every surviving user.
    // The registered query then runs entirely on a FOLLOWER — a fresh
    // open from storage, closure reconciliation included — reading each
    // survivor's replicated Spend and Bonus. The oracle replays the whole
    // lifecycle relationally from `events`: a replica that lost a delta,
    // resurrected a terminated user, or misapplied a closure diverges.
    QueryDef(
      "graph_sync_replica",
      (s, d) => {
        val replica = graft.fx.Sync.open(s, syncDirFor(s, d))
        val users = replica.now.all("User")
        val spend = users.fieldValue("Spend", "v_double", "spend")
        val bonus = users.fieldValue("Bonus", "v_long", "bonus")
        val now = spend.join(bonus, "atom_id")
          .select(col("atom_id"), lit("now").as("frame"),
            col("spend"), col("bonus"))
        // replica time travel: the pre-termination frame still sees every
        // user — a misapplied closure (or a resurrected atom) diverges
        // here. The frame is DERIVED (maxSlice = W present weeks +
        // termination + Bonus, so pre-termination = maxSlice - 2): a
        // hard-coded at(5) re-coupled to the 5-week fixture this round's
        // Streaming fixes decoupled everywhere else
        val pre = replica.at(replica.graph.maxSlice - 2).all("User")
          .fieldValue("Spend", "v_double", "spend")
          .select(col("atom_id"), lit("pre").as("frame"),
            col("spend"), lit(null).cast("long").as("bonus"))
        now.unionByName(pre).orderBy(col("frame"), col("atom_id"))
      },
      Some("""WITH p AS (
             |  SELECT user_id, ts, event_id, value,
             |    CAST(datediff('day', DATE '2024-01-01',
             |      CAST(date_trunc('week', ts) AS DATE)) // 7 + 1 AS INT) AS q
             |  FROM events WHERE event_type = 'purchase' AND user_id <= 30),
             |wk AS (
             |  SELECT user_id, q, value FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id, q
             |      ORDER BY ts DESC, event_id DESC) AS rn FROM p)
             |  WHERE rn = 1),
             |fin AS (
             |  SELECT user_id, value FROM (
             |    SELECT *, row_number() OVER (PARTITION BY user_id
             |      ORDER BY q DESC) AS rn FROM wk)
             |  WHERE rn = 1)
             |SELECT * FROM (
             |  SELECT 'e:User/' || CAST(user_id AS VARCHAR) AS atom_id,
             |    'now' AS frame, value AS spend,
             |    CAST(floor(value) AS BIGINT) AS bonus
             |  FROM fin WHERE value >= 100.0
             |  UNION ALL
             |  SELECT 'e:User/' || CAST(user_id AS VARCHAR), 'pre', value,
             |    CAST(NULL AS BIGINT)
             |  FROM fin
             |) ORDER BY frame, atom_id""".stripMargin),
      Seq("sync", "replication", "transact", "cdc"))
  )

  /** Memoized per (session, sfDir): the sync store directory — the CDC
    * fixture graph published once through [[graft.fx.Sync]] plus one
    * appended Bonus transaction via the synced writer handle.
    * Pid+session-salted ([[Registry.scratchDir]]) to match the
    * per-session memoization, built race-free ([[Registry.memoize]]).
    * The wish list is bounded: one PutField per surviving user (≤ 31). */
  private val syncDirCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private def syncDirFor(s: SparkSession, d: String): String =
    Registry.memoize(syncDirCache, (s, d)) {
      val (g, _) = Streaming.graphFeedFor(s, d)
      val dir = Registry.scratchDir(s, "graft_sync", d, freshRoot = true)
      val writer = graft.fx.Sync.publish(g, dir)
      val survivors = g.now.all("User")
        .fieldValue("Spend", "v_double", "v")
        .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      writer.transact(survivors.map { case (id, v) =>
        PutField(id, "Bonus", math.floor(v).toLong)
      })
      dir
    }
}
