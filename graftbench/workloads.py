"""Workload definitions: statement templates, the seeded generator and the
independent expected answers.

Every Cypher template has an equivalent SQL text that DuckDB runs over the
same parquet files. Placeholders `{name}` are filled from the seed; in
Cypher a placeholder is either inlined as a literal or passed as `$name`
(a per-statement coin flip), in SQL it is always inlined.
"""
import random
from collections import Counter

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


class T:
    """A statement template: Cypher text, SQL text and literal domains."""

    def __init__(self, name, cypher, sql, **domains):
        self.name, self.cypher, self.sql, self.domains = name, cypher, sql, domains


def lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "\\'") + "'"
    return repr(v)


def sql_lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


# Short read-only queries over sf0.01.
INTERACTIVE = [
    T("lookup_order",
      "MATCH (o:Order) WHERE o.o_orderkey = {ok} RETURN o.o_totalprice AS price, o.o_orderstatus AS st",
      "SELECT o_totalprice AS price, o_orderstatus AS st FROM orders WHERE o_orderkey = {ok}",
      ok=list(range(100, 15000, 750))),
    T("scan_filter",
      "MATCH (c:Customer) WHERE c.c_acctbal > {bal} AND c.c_mktsegment = {seg} RETURN c.c_custkey AS ck, c.c_acctbal AS bal",
      "SELECT c_custkey AS ck, c_acctbal AS bal FROM customer WHERE c_acctbal > {bal} AND c_mktsegment = {seg}",
      bal=[0.0, 2500.0, 5000.0, 7500.0], seg=SEGMENTS),
    T("expand_orders",
      "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = {ck} RETURN o.o_orderkey AS ok, o.o_totalprice AS price",
      "SELECT o_orderkey AS ok, o_totalprice AS price FROM customer JOIN orders ON o_custkey = c_custkey WHERE c_custkey = {ck}",
      ck=list(range(7, 1500, 97))),
    T("expand_2hop",
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) WHERE r.r_name = {rn} RETURN n.n_name AS nation, count(*) AS n",
      "SELECT n_name AS nation, count(*) AS n FROM customer JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey WHERE r_name = {rn} GROUP BY n_name",
      rn=REGIONS),
    T("order_items",
      "MATCH (o:Order)-[:HAS_ITEM]->(l:LineItem)-[:OF_PART]->(p:Part) WHERE o.o_orderkey = {ok} RETURN p.p_name AS part, l.l_quantity AS qty",
      "SELECT p_name AS part, l_quantity AS qty FROM orders JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey WHERE o_orderkey = {ok}",
      ok=list(range(11, 15000, 511))),
    T("optional",
      "MATCH (c:Customer) WHERE c.c_custkey < {ck} OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > {p} RETURN c.c_custkey AS ck, o.o_orderkey AS ok",
      "SELECT c_custkey AS ck, o_orderkey AS ok FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > {p} WHERE c_custkey < {ck}",
      ck=[20, 50, 100], p=[300000.0, 400000.0, 450000.0]),
    T("agg_status",
      "MATCH (o:Order) WHERE o.o_totalprice > {p} RETURN o.o_orderstatus AS st, count(*) AS n, avg(o.o_totalprice) AS avgp",
      "SELECT o_orderstatus AS st, count(*) AS n, avg(o_totalprice) AS avgp FROM orders WHERE o_totalprice > {p} GROUP BY 1",
      p=[10000.0, 100000.0, 250000.0, 400000.0]),
    T("orderby_limit",
      "MATCH (o:Order) WHERE o.o_orderstatus = {st} RETURN o.o_orderkey AS ok, o.o_totalprice AS price ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10",
      "SELECT o_orderkey AS ok, o_totalprice AS price FROM orders WHERE o_orderstatus = {st} ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
      st=["F", "O", "P"]),
    T("supplier_nation",
      "MATCH (n:Nation)<-[:FROM_NATION]-(s:Supplier) WHERE n.n_nationkey = {nk} RETURN s.s_name AS name, s.s_acctbal AS bal",
      "SELECT s_name AS name, s_acctbal AS bal FROM nation JOIN supplier ON s_nationkey = n_nationkey WHERE n_nationkey = {nk}",
      nk=list(range(0, 25, 3))),
    T("agg_lineitem",
      "MATCH (l:LineItem) WHERE l.l_quantity < {q} RETURN l.l_returnflag AS rf, count(*) AS n, sum(l.l_quantity) AS qty",
      "SELECT l_returnflag AS rf, count(*) AS n, sum(l_quantity) AS qty FROM lineitem WHERE l_quantity < {q} GROUP BY 1",
      q=[5.0, 10.0, 25.0, 40.0]),
    T("with_where",
      "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = {nk} WITH c.c_custkey AS ck, sum(o.o_totalprice) AS total WHERE total > {t} RETURN ck, total",
      "SELECT c_custkey AS ck, sum(o_totalprice) AS total FROM customer JOIN orders ON o_custkey = c_custkey WHERE c_nationkey = {nk} GROUP BY c_custkey HAVING sum(o_totalprice) > {t}",
      nk=list(range(0, 25, 4)), t=[1000000.0, 2500000.0]),
    T("union",
      "MATCH (c:Customer) WHERE c.c_nationkey = {nk} RETURN c.c_mktsegment AS val UNION MATCH (o:Order) WHERE o.o_custkey = {ck} RETURN o.o_orderstatus AS val",
      "SELECT c_mktsegment AS val FROM customer WHERE c_nationkey = {nk} UNION SELECT o_orderstatus AS val FROM orders WHERE o_custkey = {ck}",
      nk=list(range(0, 25, 5)), ck=list(range(3, 1500, 301))),
    T("exists",
      "MATCH (p:Part) WHERE p.p_size = {sz} AND (p)<-[:OF_PART]-(:LineItem) RETURN p.p_partkey AS pk",
      "SELECT p_partkey AS pk FROM part WHERE p_size = {sz} AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)",
      sz=[1, 10, 25, 50]),
    T("count_subquery",
      "MATCH (n:Nation) WHERE COUNT {{ MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN s }} >= {k} RETURN n.n_name AS nn",
      "SELECT n_name AS nn FROM nation WHERE (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) >= {k}",
      k=[2, 4, 6]),
    T("varlen",
      "MATCH (n:Nation)-[:IN_REGION*0..1]->(x) WHERE n.n_regionkey = {rk} RETURN n.n_nationkey AS nk, count(*) AS n",
      """SELECT n_nationkey AS nk, count(*) AS n FROM (
           SELECT n_nationkey FROM nation WHERE n_regionkey = {rk}
           UNION ALL SELECT n_nationkey FROM nation JOIN region ON r_regionkey = n_regionkey WHERE n_regionkey = {rk}) p
         GROUP BY 1""",
      rk=[0, 1, 2, 3, 4]),
    T("distinct",
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE n.n_regionkey = {rk} RETURN DISTINCT c.c_mktsegment AS seg",
      "SELECT DISTINCT c_mktsegment AS seg FROM customer JOIN nation ON n_nationkey = c_nationkey WHERE n_regionkey = {rk}",
      rk=[0, 1, 2, 3, 4]),
    T("not_exists",
      "MATCH (o:Order) WHERE o.o_custkey < {ck} AND NOT (o)-[:HAS_ITEM]->(:LineItem) RETURN o.o_orderkey AS ok",
      "SELECT o_orderkey AS ok FROM orders WHERE o_custkey < {ck} AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)",
      ck=[100, 300, 600]),
    T("agg_brand",
      "MATCH (p:Part) WHERE p.p_size > {sz} RETURN p.p_brand AS brand, count(*) AS n, max(p.p_retailprice) AS maxp",
      "SELECT p_brand AS brand, count(*) AS n, max(p_retailprice) AS maxp FROM part WHERE p_size > {sz} GROUP BY 1",
      sz=[10, 20, 30, 40]),
    T("supplier_items",
      "MATCH (s:Supplier)<-[:BY_SUPPLIER]-(l:LineItem) WHERE s.s_suppkey = {sk} RETURN count(*) AS n, sum(l.l_quantity) AS qty",
      "SELECT count(*) AS n, coalesce(sum(l_quantity), 0) AS qty FROM supplier JOIN lineitem ON l_suppkey = s_suppkey WHERE s_suppkey = {sk}",
      sk=list(range(1, 100, 9))),
    T("skip_limit",
      "MATCH (c:Customer) WHERE c.c_nationkey = {nk} RETURN c.c_custkey AS ck ORDER BY c.c_custkey SKIP 5 LIMIT 10",
      "SELECT c_custkey AS ck FROM customer WHERE c_nationkey = {nk} ORDER BY c_custkey LIMIT 10 OFFSET 5",
      nk=list(range(1, 25, 3))),
    T("multi_match",
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE c.c_acctbal > {bal} WITH n.n_nationkey AS nk, n.n_name AS nation, count(*) AS custs "
      "MATCH (s:Supplier)-[:FROM_NATION]->(m:Nation) WHERE m.n_nationkey = nk RETURN nation, custs, count(*) AS supps",
      """SELECT nation, custs, count(*) AS supps FROM (
           SELECT n_nationkey AS nk, n_name AS nation, count(*) AS custs FROM customer JOIN nation ON n_nationkey = c_nationkey
           WHERE c_acctbal > {bal} GROUP BY 1, 2) x JOIN supplier ON s_nationkey = x.nk GROUP BY nation, custs""",
      bal=[1000.0, 5000.0, 9000.0]),
    T("case_bucket",
      "MATCH (o:Order) WHERE o.o_custkey < {ck} RETURN CASE WHEN o.o_totalprice > 250000.0 THEN 'high' ELSE 'low' END AS bucket, count(*) AS n",
      "SELECT CASE WHEN o_totalprice > 250000.0 THEN 'high' ELSE 'low' END AS bucket, count(*) AS n FROM orders WHERE o_custkey < {ck} GROUP BY 1",
      ck=[50, 200, 800]),
    T("optional_agg",
      "MATCH (n:Nation) WHERE n.n_regionkey = {rk} OPTIONAL MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN n.n_name AS nation, count(s.s_suppkey) AS n_supp",
      "SELECT n_name AS nation, count(s_suppkey) AS n_supp FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey WHERE n_regionkey = {rk} GROUP BY n_name",
      rk=[0, 1, 2, 3, 4]),
    T("union_all",
      "MATCH (n:Nation) WHERE n.n_regionkey = {rk} RETURN n.n_name AS name UNION ALL MATCH (r:Region) WHERE r.r_regionkey = {rk} RETURN r.r_name AS name",
      "SELECT n_name AS name FROM nation WHERE n_regionkey = {rk} UNION ALL SELECT r_name AS name FROM region WHERE r_regionkey = {rk}",
      rk=[0, 1, 2, 3, 4]),
]

# Execution-heavy queries over sf0.1 (LineItem ~600k rows).
ANALYTIC = [
    T("three_hop_brand",
      "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:LineItem)-[:OF_PART]->(p:Part) WHERE c.c_mktsegment = {seg} "
      "RETURN p.p_brand AS brand, count(*) AS n, sum(l.l_quantity) AS qty",
      """SELECT p_brand AS brand, count(*) AS n, sum(l_quantity) AS qty FROM customer JOIN orders ON o_custkey = c_custkey
           JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey WHERE c_mktsegment = {seg} GROUP BY 1""",
      seg=SEGMENTS),
    T("lineitem_groupby",
      "MATCH (l:LineItem) WHERE l.l_discount >= {d} RETURN l.l_returnflag AS rf, l.l_linestatus AS ls, count(*) AS n, "
      "sum(l.l_extendedprice) AS rev, avg(l.l_quantity) AS aq",
      "SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n, sum(l_extendedprice) AS rev, avg(l_quantity) AS aq "
      "FROM lineitem WHERE l_discount >= {d} GROUP BY 1, 2",
      d=[0.0, 0.03, 0.05, 0.08]),
    T("optional_lineitems",
      "MATCH (o:Order) WHERE o.o_orderstatus = {st} OPTIONAL MATCH (o)-[:HAS_ITEM]->(l:LineItem) WHERE l.l_quantity > {q} "
      "RETURN o.o_orderpriority AS prio, count(l.l_quantity) AS n",
      "SELECT o_orderpriority AS prio, count(l_quantity) AS n FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey "
      "AND l_quantity > {q} WHERE o_orderstatus = {st} GROUP BY 1",
      st=["F", "O", "P"], q=[10.0, 30.0, 45.0]),
    T("varlen_unbounded",
      "MATCH (c:Customer)-[*]->(x) WHERE c.c_custkey < {ck} RETURN count(*) AS n",
      """SELECT count(*) AS n FROM (
           SELECT 1 FROM orders WHERE o_custkey < {ck}
           UNION ALL SELECT 1 FROM customer WHERE c_custkey < {ck}
           UNION ALL SELECT 1 FROM customer WHERE c_custkey < {ck}
           UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey, range(5) WHERE o_custkey < {ck}) p""",
      ck=[200, 500, 1000]),
    T("shortest_path",
      "MATCH p = shortestPath((c:Customer)-[*1..3]->(r:Region)) WHERE c.c_custkey < {ck} RETURN c.c_custkey AS ck, r.r_name AS rn, length(p) AS l",
      "SELECT c_custkey AS ck, r_name AS rn, 2 AS l FROM customer JOIN nation ON n_nationkey = c_nationkey "
      "JOIN region ON r_regionkey = n_regionkey WHERE c_custkey < {ck}",
      ck=[100, 300, 600]),
    T("multi_type",
      "MATCH (l:LineItem)-[r]->(y) WHERE l.l_quantity > {q} RETURN count(*) AS n",
      "SELECT 2 * count(*) AS n FROM lineitem WHERE l_quantity > {q}",
      q=[10.0, 25.0, 40.0]),
    T("supplier_revenue",
      "MATCH (s:Supplier)<-[:BY_SUPPLIER]-(l:LineItem)<-[:HAS_ITEM]-(o:Order) WHERE o.o_orderstatus = {st} "
      "RETURN s.s_nationkey AS nk, count(*) AS n, sum(l.l_extendedprice) AS rev",
      "SELECT s_nationkey AS nk, count(*) AS n, sum(l_extendedprice) AS rev FROM supplier JOIN lineitem ON l_suppkey = s_suppkey "
      "JOIN orders ON o_orderkey = l_orderkey WHERE o_orderstatus = {st} GROUP BY 1",
      st=["F", "O", "P"]),
    T("part_topk",
      "MATCH (l:LineItem)-[:OF_PART]->(p:Part) WHERE p.p_size < {sz} WITH p.p_partkey AS pk, sum(l.l_quantity) AS qty "
      "RETURN pk, qty ORDER BY qty DESC, pk LIMIT 20",
      "SELECT p_partkey AS pk, sum(l_quantity) AS qty FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size < {sz} "
      "GROUP BY 1 ORDER BY qty DESC, pk LIMIT 20",
      sz=[10, 25, 40]),
    T("customer_revenue",
      "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:LineItem) WHERE c.c_nationkey = {nk} "
      "RETURN c.c_mktsegment AS seg, count(DISTINCT o.o_orderkey) AS orders, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev",
      "SELECT c_mktsegment AS seg, count(DISTINCT o_orderkey) AS orders, sum(l_extendedprice * (1 - l_discount)) AS rev "
      "FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_nationkey = {nk} GROUP BY 1",
      nk=list(range(0, 25, 2))),
    T("orders_without_items",
      "MATCH (o:Order) WHERE o.o_totalprice > {p} AND NOT (o)-[:HAS_ITEM]->(:LineItem) RETURN count(*) AS n",
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > {p} AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)",
      p=[50000.0, 200000.0, 400000.0]),
]


def instantiate(t, rng, sid):
    vals = {k: rng.choice(v) for k, v in t.domains.items()}
    as_param = rng.random() < 0.5
    text = t.cypher.format(**{k: ("$" + k) if as_param else lit(v) for k, v in vals.items()})
    sql = t.sql.format(**{k: sql_lit(v) for k, v in vals.items()})
    return {"id": sid, "tpl": t.name, "kind": "query", "text": text,
            "params": vals if as_param else {}, "sql": sql}


def query_workload(templates, repeats, decks, rng):
    """Every template `repeats` times per deck, in a seeded order."""
    warmup = [instantiate(t, rng, -1 - i) for i, t in enumerate(templates)]
    out, sid = [], 0
    for _ in range(decks):
        deck = []
        for t in templates:
            for _ in range(repeats):
                deck.append(instantiate(t, rng, sid))
                sid += 1
        rng.shuffle(deck)
        out.append(deck)
    return warmup, out


# --- write chains --------------------------------------------------------
#
# Each chain starts from the base graph; each step writes (update or
# cypherGraph) and then reads the result back. The DuckDB side keeps the
# chain's state in mutable tables and applies the SQL equivalent of each
# write before running the read-back.

CHAIN_STATE_SQL = """
CREATE OR REPLACE TABLE w_customer AS SELECT c_custkey, c_acctbal, c_nationkey, c_mktsegment, CAST(NULL AS VARCHAR) AS tier FROM customer;
CREATE OR REPLACE TABLE w_placed AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders;
CREATE OR REPLACE TABLE w_marker (nk INTEGER, step BIGINT);
CREATE OR REPLACE TABLE w_segment (name VARCHAR);
CREATE OR REPLACE TABLE w_tag (rk INTEGER, name VARCHAR);
"""

WRITE_STEPS = {
    "set": dict(
        kind="update",
        cypher="MATCH (c:Customer) WHERE c.c_acctbal < {bal} SET c.tier = {tier}",
        apply="UPDATE w_customer SET tier = {tier} WHERE c_acctbal < {bal}",
        read="MATCH (c:Customer) WHERE c.tier = {tier} RETURN count(*) AS n, sum(c.c_acctbal) AS s",
        check="SELECT count(*) AS n, coalesce(sum(c_acctbal), 0) AS s FROM w_customer WHERE tier = {tier}",
        domains=dict(bal=[0.0, 1000.0, 3000.0, 6000.0], tier=["gold", "silver", "bronze"])),
    "create": dict(
        kind="update",
        cypher="MATCH (n:Nation) WHERE n.n_regionkey = {rk} CREATE (:Marker {{nk: n.n_nationkey, step: {step}}})",
        apply="INSERT INTO w_marker SELECT n_nationkey, {step} FROM nation WHERE n_regionkey = {rk}",
        read="MATCH (m:Marker) RETURN m.step AS step, count(*) AS n",
        check="SELECT step, count(*) AS n FROM w_marker GROUP BY 1",
        domains=dict(rk=[0, 1, 2, 3, 4], step=[1, 2, 3, 4])),
    "delete": dict(
        kind="update",
        cypher="MATCH (:Customer)-[r:PLACED]->(o:Order) WHERE o.o_totalprice < {p} DELETE r",
        apply="DELETE FROM w_placed WHERE o_totalprice < {p}",
        read="MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey < {ck} RETURN count(*) AS n",
        check="SELECT count(*) AS n FROM w_placed WHERE o_custkey < {ck}",
        domains=dict(p=[20000.0, 50000.0, 100000.0], ck=[100, 400, 1000])),
    "merge": dict(
        kind="update",
        cypher="MATCH (c:Customer) WHERE c.c_nationkey = {nk} MERGE (:Segment {{name: c.c_mktsegment}})",
        apply="INSERT INTO w_segment SELECT DISTINCT c_mktsegment FROM customer WHERE c_nationkey = {nk} "
              "AND c_mktsegment NOT IN (SELECT name FROM w_segment)",
        read="MATCH (s:Segment) RETURN s.name AS name",
        check="SELECT name FROM w_segment",
        domains=dict(nk=list(range(25)))),
    "construct_on": dict(
        kind="construct_on",
        cypher="MATCH (r:Region) WHERE r.r_regionkey <= {rk} CONSTRUCT ON chain NEW (r)-[:TAGGED]->(:Tag {{of: r.r_name}}) RETURN GRAPH",
        apply="INSERT INTO w_tag SELECT r_regionkey, r_name FROM region WHERE r_regionkey <= {rk}",
        read="MATCH (n:Nation)-[:IN_REGION]->(r:Region)-[:TAGGED]->(t:Tag) RETURN t.of AS tag, count(*) AS n",
        check="SELECT w_tag.name AS tag, count(*) AS n FROM nation JOIN w_tag ON w_tag.rk = n_regionkey GROUP BY 1",
        domains=dict(rk=[0, 1, 2, 3])),
    # CONSTRUCT (without ON) returns a new graph holding only the clones,
    # so it only ever ends a chain.
    "construct": dict(
        kind="construct",
        cypher="MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE c.c_acctbal > {bal} CONSTRUCT NEW (c)-[:LIVES_IN]->(n) RETURN GRAPH",
        apply=None,
        read="MATCH (p:Customer)-[:LIVES_IN]->(n:Nation) RETURN n.n_regionkey AS rk, count(*) AS n",
        check="SELECT n_regionkey AS rk, count(*) AS n FROM w_customer JOIN nation ON n_nationkey = c_nationkey "
              "WHERE c_acctbal > {bal} GROUP BY 1",
        domains=dict(bal=[2000.0, 5000.0, 8000.0])),
}
MIDDLE_STEPS = ["set", "create", "delete", "merge", "construct_on"]
CHAIN_LENGTHS = [2, 3, 4, 5]


def write_step(name, rng, sid, reset):
    s = WRITE_STEPS[name]
    vals = {k: rng.choice(v) for k, v in s["domains"].items()}
    as_param = rng.random() < 0.5
    cy = {k: ("$" + k) if as_param else lit(v) for k, v in vals.items()}
    sq = {k: sql_lit(v) for k, v in vals.items()}
    params = vals if as_param else {}
    return {"id": sid, "tpl": name, "kind": s["kind"], "reset": reset,
            "text": s["cypher"].format(**cy), "params": params,
            "read": {"text": s["read"].format(**cy), "params": params},
            "apply": s["apply"].format(**sq) if s["apply"] else None,
            "sql": s["check"].format(**sq)}


def chain(rng, sid, length):
    steps = []
    for i in range(length):
        last = i == length - 1
        name = rng.choice(MIDDLE_STEPS + (["construct"] if last else []))
        steps.append(write_step(name, rng, sid + i, reset=(i == 0)))
    steps[0]["chain_length"] = length
    return steps


def write_workload(chains_per_deck, decks, rng):
    # Warm-up covers every step kind once in one chain.
    warm = [write_step(n, rng, -1 - i, reset=(i == 0))
            for i, n in enumerate(MIDDLE_STEPS + ["construct"])]
    out, sid = [], 0
    for _ in range(decks):
        deck = []
        for _ in range(chains_per_deck):
            c = chain(rng, sid, rng.choice(CHAIN_LENGTHS))
            sid += len(c)
            deck.extend(c)
        out.append(deck)
    return warm, out


# --- graph algorithms ----------------------------------------------------

def algo_workload(nodes, decks, rng, pagerank_iterations=5, kcore_k=5, sssp_sources=32):
    # With 32 seeded sources every seed's search runs the same number of
    # rounds on these graphs; with 3, one seed in five ran an extra round
    # (a ~15% slower call) and moved the run's median latency with it.
    sources = sorted(rng.sample(range(nodes), sssp_sources))
    calls = [("pagerank", {"iterations": pagerank_iterations}),
             ("sssp", {"sources": sources}),
             ("components", {}),
             ("triangles", {}),
             ("kcore", {"k": kcore_k})]
    warm = [{"id": -1 - i, "tpl": a, "kind": "algo", "algo": a, "args": args}
            for i, (a, args) in enumerate(calls)]
    out, sid = [], 0
    for _ in range(decks):
        # Every call twice, in a fixed order: the first call after warm-up
        # runs slower, and a seeded order moved that cost between algorithms.
        deck = [{"id": sid + i, "tpl": a, "kind": "algo", "algo": a, "args": args}
                for i, (a, args) in enumerate(calls * 2)]
        sid += len(deck)
        out.append(deck)
    return warm, out


def describe(decks):
    """Input properties recorded in the artifact."""
    flat = [s for d in decks for s in d]
    texts = [s["text"] for s in flat if s.get("text")]
    chains = Counter()
    for s in flat:
        if s.get("reset"):
            chains[s["chain_length"]] += 1
    return {"statements": len(flat),
            "templates": dict(Counter(s["tpl"] for s in flat)),
            # share of statements whose exact text appeared earlier in the run
            "repeated_text_share": (len(texts) - len(set(texts))) / len(flat) if texts else 0.0,
            "param_share": sum(1 for s in flat if s.get("params")) / len(flat),
            "chain_length_histogram": {str(k): v for k, v in sorted(chains.items())}}


def rng_for(seed):
    return random.Random(seed * 7919 + 17)
