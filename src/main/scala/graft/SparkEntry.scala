package graft

import graft.api.GraftSession
import graft.tpch.TpchGraph
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator family from SURVEY §2 through
  * the full Cypher pipeline (parse -> plan -> DataFrame); `oracleSql` holds
  * the equivalent SQL that the driver runs in DuckDB over the same parquet.
  * Pipeline (dedup / similarity / text) entries run through the
  * graft.pipeline DataFrame operators instead.
  */
object SparkEntry {

  /** Graph-query entries: (name, cypher, duckdb oracle). Column names are
    * aligned on both sides — the driver compare sorts columns by name. */
  private val cypherQueries: Seq[(String, String, Option[String])] = Seq(
    // --- scans / filter / project (Start, Select, Filter) ---
    ("q_scan",
      "MATCH (c:Customer) RETURN c.c_custkey AS c_custkey, c.c_name AS c_name, c.c_acctbal AS c_acctbal, c.c_mktsegment AS c_mktsegment",
      Some("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer")),
    ("q_filter",
      "MATCH (o:Order) WHERE o.o_totalprice > 300000.0 AND o.o_orderstatus = 'O' RETURN o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice",
      Some("SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000.0 AND o_orderstatus = 'O'")),
    // --- expand (join pipelines) ---
    ("q_expand",
      "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN c.c_custkey AS c_custkey, c.c_mktsegment AS seg, o.o_orderkey AS o_orderkey",
      Some("SELECT c_custkey, c_mktsegment AS seg, o_orderkey FROM customer JOIN orders ON o_custkey = c_custkey")),
    ("q_expand_2hop",
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) RETURN c.c_custkey AS c_custkey, n.n_name AS n_name, r.r_name AS r_name",
      Some("SELECT c_custkey, n_name, r_name FROM customer JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey")),
    ("q_expand_reverse",
      "MATCH (n:Nation)<-[:FROM_NATION]-(s:Supplier) RETURN n.n_name AS n_name, s.s_name AS s_name",
      Some("SELECT n_name, s_name FROM nation JOIN supplier ON s_nationkey = n_nationkey")),
    ("q_expand_undirected",
      "MATCH (n:Nation)-[:FROM_NATION]-(x) RETURN n.n_name AS n_name, count(*) AS degree",
      Some("SELECT n_name, count(*) AS degree FROM (SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey AS k FROM supplier) j JOIN nation ON n_nationkey = j.k GROUP BY n_name")),
    // --- aggregation (Aggregate; SURVEY §2.4 aggregators) ---
    ("q_agg",
      "MATCH (l:LineItem) RETURN l.l_returnflag AS l_returnflag, l.l_linestatus AS l_linestatus, round(sum(l.l_quantity), 4) AS sum_qty, round(sum(l.l_extendedprice), 4) AS sum_price, round(avg(l.l_discount), 4) AS avg_disc, count(*) AS cnt",
      Some("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, round(sum(l_extendedprice), 4) AS sum_price, round(avg(l_discount), 4) AS avg_disc, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus")),
    ("q_agg_minmax",
      "MATCH (o:Order) RETURN o.o_orderstatus AS st, min(o.o_totalprice) AS min_p, max(o.o_totalprice) AS max_p, count(DISTINCT o.o_orderpriority) AS n_prio",
      Some("SELECT o_orderstatus AS st, min(o_totalprice) AS min_p, max(o_totalprice) AS max_p, count(DISTINCT o_orderpriority) AS n_prio FROM orders GROUP BY o_orderstatus")),
    ("q_agg_global",
      "MATCH (l:LineItem) RETURN count(*) AS n, round(sum(l.l_quantity), 4) AS total_qty, round(avg(l.l_extendedprice), 4) AS avg_price, min(l.l_shipdate) AS min_ship, max(l.l_shipdate) AS max_ship, count(DISTINCT l.l_orderkey) AS n_orders",
      Some("SELECT count(*) AS n, round(sum(l_quantity), 4) AS total_qty, round(avg(l_extendedprice), 4) AS avg_price, min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship, count(DISTINCT l_orderkey) AS n_orders FROM lineitem")),
    ("q_agg_stats",
      "MATCH (o:Order) RETURN round(stDev(o.o_totalprice), 4) AS sd, round(percentileCont(o.o_totalprice, 0.5), 4) AS med",
      Some("SELECT round(stddev_samp(o_totalprice), 4) AS sd, round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS med FROM orders")),
    ("q_percentile_disc",
      "MATCH (o:Order) RETURN o.o_orderstatus AS st, percentileDisc(o.o_totalprice, 0.25) AS p25",
      Some("SELECT o_orderstatus AS st, percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25 FROM orders GROUP BY 1")),
    // --- order / skip / limit (OrderBy, Skip, Limit) ---
    ("q_orderby_limit",
      "MATCH (o:Order) RETURN o.o_orderkey AS o_orderkey, o.o_totalprice AS o_totalprice ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10",
      Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),
    ("q_skip_limit",
      "MATCH (o:Order) RETURN o.o_orderkey AS o_orderkey ORDER BY o.o_orderkey SKIP 100 LIMIT 20",
      Some("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 100")),
    // --- distinct / union (Distinct, TabularUnionAll) ---
    ("q_distinct",
      "MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg",
      Some("SELECT DISTINCT c_mktsegment AS seg FROM customer")),
    ("q_union",
      "MATCH (c:Customer) RETURN c.c_mktsegment AS val UNION MATCH (o:Order) RETURN o.o_orderstatus AS val",
      Some("SELECT c_mktsegment AS val FROM customer UNION SELECT o_orderstatus AS val FROM orders")),
    ("q_union_all",
      "MATCH (n:Nation) RETURN n.n_name AS name UNION ALL MATCH (r:Region) RETURN r.r_name AS name",
      Some("SELECT n_name AS name FROM nation UNION ALL SELECT r_name AS name FROM region")),
    // --- unwind (Explode) ---
    ("q_unwind",
      "UNWIND [1,2,3,4,5] AS x RETURN x, x * x AS sq",
      Some("SELECT CAST(x AS BIGINT) AS x, CAST(x*x AS BIGINT) AS sq FROM (SELECT unnest([1,2,3,4,5]) AS x) t")),
    // --- optional match (left outer join) ---
    ("q_optional",
      "MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > 450000.0 RETURN c.c_custkey AS c_custkey, o.o_orderkey AS o_orderkey",
      Some("SELECT c_custkey, o_orderkey FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > 450000.0")),
    // --- exists / not-exists pattern predicates (semi / anti join) ---
    ("q_exists",
      "MATCH (p:Part) WHERE (p)<-[:OF_PART]-(:LineItem) RETURN p.p_partkey AS p_partkey",
      Some("SELECT p_partkey FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)")),
    ("q_not_exists",
      "MATCH (o:Order) WHERE NOT (o)-[:HAS_ITEM]->(:LineItem) RETURN o.o_orderkey AS o_orderkey",
      Some("SELECT o_orderkey FROM orders WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)")),
    // --- full-query subquery expressions (Cypher 5, round 9): COUNT {}
    //     with a complete body in WHERE, and a UNION body whose distinct
    //     is replayable as SQL UNION ---
    ("q_count_subquery",
      "MATCH (n:Nation) WHERE COUNT { MATCH (s:Supplier)-[:FROM_NATION]->(n) " +
        "RETURN s } >= 2 RETURN n.n_name AS nn",
      Some("""SELECT n_name AS nn FROM nation
        WHERE (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) >= 2""")),
    ("q_count_union_subquery",
      "RETURN COUNT { MATCH (c:Customer) RETURN c.c_nationkey AS v " +
        "UNION MATCH (s:Supplier) RETURN s.s_nationkey AS v } AS n",
      Some("""SELECT count(*) AS n FROM (
        SELECT c_nationkey AS v FROM customer
        UNION SELECT s_nationkey AS v FROM supplier)""")),
    // --- GQL / Cypher-2025 standalone clauses (round 9): LET + FILTER +
    //     standalone ORDER BY/LIMIT as WITH-* sugar ---
    ("q_let_filter",
      "MATCH (c:Customer) LET bal = c.c_acctbal * 2 FILTER bal > 5000 " +
        "ORDER BY bal DESC, c.c_custkey LIMIT 10 " +
        "RETURN c.c_custkey AS ck, round(bal, 4) AS bal",
      Some("""SELECT c_custkey AS ck, round(c_acctbal * 2, 4) AS bal
        FROM customer WHERE c_acctbal * 2 > 5000
        ORDER BY c_acctbal * 2 DESC, c_custkey LIMIT 10""")),
    // --- NEXT linear composition (GQL / Cypher 2025, round 11): each
    //     segment's RETURN feeds the next segment's working table ---
    ("q_next",
      "MATCH (c:Customer)-[:PLACED]->(o:Order) " +
        "RETURN c.c_nationkey AS nk, o.o_totalprice AS price " +
        "NEXT WITH nk, sum(price) AS total WHERE total > 1000000.0 " +
        "RETURN nk, round(total, 4) AS total " +
        "NEXT MATCH (n:Nation {n_nationkey: nk}) " +
        "RETURN n.n_name AS name, total",
      Some("""SELECT n_name AS name, round(total, 4) AS total FROM (
        SELECT c_nationkey AS nk, sum(o_totalprice) AS total
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_nationkey HAVING sum(o_totalprice) > 1000000.0) t
        JOIN nation ON n_nationkey = nk""")),
    // --- dynamic labels / relationship types in MATCH (Neo4j 5.26/2025,
    //     round 11): runtime-resolved :$(expr) terms ---
    ("q_dynamic_match",
      "WITH 'Customer' AS lbl MATCH (c:$(lbl))-[r:$('PLACED')]->(o) " +
        "RETURN c.c_mktsegment AS seg, count(*) AS n",
      Some("""SELECT c_mktsegment AS seg, count(*) AS n
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment""")),
    // --- spatial POINT (beyond-reference, round 11): constructor,
    //     accessors, cartesian + WGS-84 distance (haversine, IUGG mean
    //     radius 6371008.8 m — the oracle replicates the formula) ---
    ("q_point",
      "MATCH (n:Nation) " +
        "WITH n, point({x: toFloat(n.n_nationkey), " +
        "y: toFloat(n.n_regionkey)}) AS pc, " +
        "point({longitude: toFloat(n.n_nationkey), " +
        "latitude: toFloat(n.n_regionkey)}) AS pg " +
        "RETURN n.n_nationkey AS nk, " +
        "round(point.distance(pc, point({x: 0.0, y: 0.0})), 4) AS dc, " +
        "round(point.distance(pg, " +
        "point({longitude: 0.0, latitude: 0.0})), 4) AS dg, " +
        "pc.srid AS sc, pg.crs AS cg",
      Some("""SELECT n_nationkey AS nk,
        round(sqrt(n_nationkey * n_nationkey
          + n_regionkey * n_regionkey), 4) AS dc,
        round(2 * 6371008.8 * asin(sqrt(
          pow(sin(radians(n_regionkey) / 2), 2)
          + cos(0) * cos(radians(n_regionkey))
            * pow(sin(radians(n_nationkey) / 2), 2))), 4) AS dg,
        7203 AS sc, 'wgs-84' AS cg
        FROM nation""")),
    // --- QPP pattern union (GQL / Cypher-2025, round 12): each repetition
    //     may take any `|` branch; step relation = dedup'd union of the
    //     branch step relations, trail semantics. Two reverse-then-forward
    //     hops over PLACED = sibling orders of the same customer (the
    //     relationship-uniqueness rule excludes the path back to a). ---
    ("q_qpp_union",
      "MATCH (a:Order)((x)-[:PLACED]->(y) | (x)<-[:PLACED]-(y)){2,2}(b) " +
        "RETURN count(*) AS n",
      Some("""SELECT count(*) AS n
        FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
        WHERE a.o_orderkey <> b.o_orderkey""")),
    // --- var-length expand (BoundedVarLengthExpand) ---
    ("q_varexpand",
      "MATCH (c:Customer)-[*1..2]->(x) RETURN c.c_custkey AS c_custkey, count(*) AS paths",
      Some("""SELECT c_custkey, count(*) AS paths FROM (
        SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey
        UNION ALL SELECT c_custkey FROM customer
        UNION ALL SELECT c_custkey FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey
        UNION ALL SELECT c_custkey FROM customer JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey
      ) paths GROUP BY c_custkey""")),
    ("q_varexpand_zero",
      "MATCH (n:Nation)-[:IN_REGION*0..1]->(x) RETURN n.n_nationkey AS nk, count(*) AS n",
      Some("""SELECT n_nationkey AS nk, count(*) AS n FROM (
        SELECT n_nationkey FROM nation
        UNION ALL SELECT n_nationkey FROM nation JOIN region ON r_regionkey = n_regionkey
      ) p GROUP BY n_nationkey""")),
    // --- WITH pipeline + aggregation-then-filter (having) ---
    ("q_with_having",
      "MATCH (c:Customer)-[:PLACED]->(o:Order) WITH c.c_custkey AS ck, sum(o.o_totalprice) AS total WHERE total > 3000000.0 RETURN ck, round(total, 4) AS total",
      Some("SELECT c_custkey AS ck, round(sum(o_totalprice), 4) AS total FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey HAVING sum(o_totalprice) > 3000000.0")),
    // --- multi-stage pipelines (WITH chaining across MATCHes) ---
    ("q_multi_match",
      "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WITH n.n_name AS nation, count(*) AS custs MATCH (s:Supplier)-[:FROM_NATION]->(n2:Nation) WHERE n2.n_name = nation RETURN nation, custs, count(*) AS supps",
      Some("""SELECT n_name AS nation, custs, count(*) AS supps FROM (
        SELECT n_nationkey, n_name, (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey) AS custs
        FROM nation) n JOIN supplier ON s_nationkey = n.n_nationkey
        WHERE custs > 0 GROUP BY n_name, custs""")),
    ("q_optional_agg",
      "MATCH (n:Nation) OPTIONAL MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN n.n_name AS nation, count(s.s_suppkey) AS n_supp",
      Some("SELECT n_name AS nation, count(s_suppkey) AS n_supp FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey GROUP BY n_name")),
    ("q_varexpand_deep",
      "MATCH (c:Customer)-[*3..3]->(x) RETURN count(*) AS paths",
      Some("""SELECT count(*) AS paths FROM (
        SELECT 1 FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem l ON l.l_orderkey = o_orderkey
        UNION ALL SELECT 1 FROM customer JOIN orders ON o_custkey = c_custkey JOIN lineitem l ON l.l_orderkey = o_orderkey
      ) p""")),
    // Unbounded [*]: fixpoint loop, not a capped unroll. The TPCH graph is
    // a DAG with max depth 5 from Customer (c>o>li>s>n>r), so the oracle is
    // the closed-form path count: orders 1x, customer 2x (c>n, c>n>r),
    // lineitems 5x (li, li>p, li>s, s>n, n>r).
    ("q_varexpand_unbounded",
      "MATCH (c:Customer)-[*]->(x) WHERE c.c_custkey < 5 RETURN count(*) AS n",
      Some("""SELECT count(*) AS n FROM (
        SELECT 1 FROM orders WHERE o_custkey < 5
        UNION ALL SELECT 1 FROM customer WHERE c_custkey < 5
        UNION ALL SELECT 1 FROM customer WHERE c_custkey < 5
        UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey < 5
        UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey < 5
        UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey < 5
        UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey < 5
        UNION ALL SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_custkey < 5
      ) p""")),
    // --- scalar expression gauntlet (SURVEY §2.5) ---
    ("q_expressions",
      "MATCH (c:Customer) RETURN c.c_custkey AS ck, toUpper(c.c_name) AS upper_name, substring(c.c_name, 0, 4) AS pre, c.c_acctbal * 1.1 + 5 AS adj, abs(c.c_acctbal) AS ab, CASE WHEN c.c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign_cls, coalesce(c.c_mktsegment, 'NA') AS seg",
      Some("SELECT c_custkey AS ck, upper(c_name) AS upper_name, substring(c_name, 1, 4) AS pre, c_acctbal * 1.1 + 5 AS adj, abs(c_acctbal) AS ab, CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign_cls, coalesce(c_mktsegment, 'NA') AS seg FROM customer")),
    ("q_strings",
      "MATCH (p:Part) WHERE p.p_name STARTS WITH 'PART_1' AND p.p_type CONTAINS 'a' RETURN p.p_partkey AS pk, p.p_name AS name, toLower(p.p_type) AS lo_type",
      Some("SELECT p_partkey AS pk, p_name AS name, lower(p_type) AS lo_type FROM part WHERE starts_with(p_name, 'PART_1') AND contains(p_type, 'a')")),
    ("q_math",
      "MATCH (s:Supplier) RETURN s.s_suppkey AS sk, floor(s.s_acctbal) AS fl, ceil(s.s_acctbal) AS ce, sqrt(abs(s.s_acctbal)) AS sq, s.s_acctbal % 7 AS md",
      Some("SELECT s_suppkey AS sk, CAST(floor(s_acctbal) AS BIGINT) AS fl, CAST(ceil(s_acctbal) AS BIGINT) AS ce, sqrt(abs(s_acctbal)) AS sq, s_acctbal - 7 * trunc(s_acctbal / 7) AS md FROM supplier")),
    ("q_case_buckets",
      "MATCH (o:Order) RETURN CASE WHEN o.o_totalprice < 100000 THEN 'low' WHEN o.o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket, count(*) AS n",
      Some("SELECT CASE WHEN o_totalprice < 100000 THEN 'low' WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS bucket, count(*) AS n FROM orders GROUP BY 1")),
    ("q_func_strings",
      "MATCH (n:Nation) RETURN n.n_nationkey AS nk, reverse(n.n_name) AS rev, replace(n.n_name, 'A', '@') AS rep, size(split(n.n_name, 'A')) AS parts, trim(n.n_name) AS t",
      Some("SELECT n_nationkey AS nk, reverse(n_name) AS rev, replace(n_name, 'A', '@') AS rep, CAST(len(string_split(n_name, 'A')) AS BIGINT) AS parts, trim(n_name) AS t FROM nation")),
    ("q_func_math",
      "MATCH (s:Supplier) RETURN s.s_suppkey AS sk, sign(s.s_acctbal) AS sg, log(abs(s.s_acctbal) + 1) AS ln_bal, s.s_acctbal ^ 2 AS sq",
      Some("SELECT s_suppkey AS sk, CAST(sign(s_acctbal) AS BIGINT) AS sg, ln(abs(s_acctbal) + 1) AS ln_bal, power(s_acctbal, 2) AS sq FROM supplier")),
    ("q_case_subject",
      "MATCH (n:Nation) RETURN CASE n.n_regionkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'other' END AS cls, count(*) AS n",
      Some("SELECT CASE n_regionkey WHEN 0 THEN 'zero' WHEN 1 THEN 'one' ELSE 'other' END AS cls, count(*) AS n FROM nation GROUP BY 1")),
    ("q_xor",
      "MATCH (o:Order) WHERE (o.o_orderstatus = 'O') XOR (o.o_totalprice > 200000.0) RETURN count(*) AS n",
      Some("SELECT count(*) AS n FROM orders WHERE (o_orderstatus = 'O') <> (o_totalprice > 200000.0)")),
    ("q_regex",
      "MATCH (n:Nation) WHERE n.n_name =~ '.*IA' RETURN n.n_name AS name",
      Some("SELECT n_name AS name FROM nation WHERE regexp_full_match(n_name, '.*IA')")),
    ("q_in_list",
      "MATCH (n:Nation) WHERE n.n_name IN ['NATION_1', 'NATION_5', 'NATION_9'] RETURN n.n_nationkey AS nk, n.n_name AS name",
      Some("SELECT n_nationkey AS nk, n_name AS name FROM nation WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')")),
    // --- multi-type relationship patterns [:A|B] ---
    ("q_multi_type",
      "MATCH (c:Customer)-[r:PLACED|FROM_NATION]->(x) RETURN type(r) AS t, count(*) AS n",
      Some("SELECT 'PLACED' AS t, count(*) AS n FROM orders UNION ALL SELECT 'FROM_NATION' AS t, count(*) AS n FROM customer")),
    ("q_strings_more",
      "MATCH (n:Nation) RETURN n.n_nationkey AS nk, left(n.n_name, 3) AS l3, right(n.n_name, 2) AS r2, ltrim(n.n_name) AS lt, head(split(n.n_name, 'A')) AS h",
      Some("SELECT n_nationkey AS nk, left(n_name, 3) AS l3, right(n_name, 2) AS r2, ltrim(n_name) AS lt, string_split(n_name, 'A')[1] AS h FROM nation")),
    // --- temporal accessors (DateProperty / LocalDateTimeProperty) ---
    ("q_temporal",
      "MATCH (l:LineItem) RETURN l.l_shipdate.year AS y, l.l_shipdate.month AS m, count(*) AS n",
      Some("SELECT CAST(year(l_shipdate) AS BIGINT) AS y, CAST(month(l_shipdate) AS BIGINT) AS m, count(*) AS n FROM lineitem GROUP BY 1, 2")),
    ("q_temporal_filter",
      "MATCH (o:Order) WHERE o.o_orderdate >= localdatetime('1998-01-01 00:00:00') RETURN count(*) AS n",
      Some("SELECT count(*) AS n FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'")),
    // --- cartesian product ---
    ("q_cartesian",
      "MATCH (r:Region), (o:Order) RETURN DISTINCT r.r_name AS rn, o.o_orderstatus AS st",
      Some("SELECT DISTINCT r_name AS rn, o_orderstatus AS st FROM region CROSS JOIN orders")),
    // --- relationship properties ---
    ("q_rel_prop",
      "MATCH (c:Customer)-[p:PLACED]->(o:Order) RETURN o.o_orderkey AS ok, p.o_orderdate AS od",
      Some("SELECT o_orderkey AS ok, o_orderdate AS od FROM orders")),
    // --- list operations / comprehensions (higher-order functions) ---
    // NOTE: list-typed result columns break the driver's pandas-based compare
    // (numpy arrays are unhashable in sort_values), so these return scalars
    // derived from the list ops instead of the lists themselves.
    ("q_list_ops",
      "WITH [1,2,3,4,5] AS xs RETURN size(xs) AS sz, head(xs) AS hd, last(xs) AS lst, xs[1] AS second, xs[1..3][0] AS mid0, size(xs[1..3]) AS midsz",
      Some("SELECT CAST(len(xs) AS BIGINT) AS sz, xs[1] AS hd, xs[-1] AS lst, xs[2] AS second, xs[2:3][1] AS mid0, CAST(len(xs[2:3]) AS BIGINT) AS midsz FROM (SELECT [1,2,3,4,5]::BIGINT[] AS xs) t")),
    ("q_list_comp",
      "WITH [1,2,3,4,5] AS xs RETURN reduce(a = 0, x IN [x IN xs WHERE x % 2 = 1 | x * 10] | a + x) AS odds_sum, size([x IN xs WHERE x % 2 = 1]) AS n_odds, reduce(a = 0, x IN xs | a + x) AS total",
      Some("SELECT CAST(list_sum(list_transform(list_filter(xs, x -> x % 2 = 1), x -> x * 10)) AS BIGINT) AS odds_sum, CAST(len(list_filter(xs, x -> x % 2 = 1)) AS BIGINT) AS n_odds, CAST(list_sum(xs) AS BIGINT) AS total FROM (SELECT [1,2,3,4,5]::BIGINT[] AS xs) t")),
    // --- iterable predicates any/all/none/single (ListAny/ListAll/...) ---
    ("q_quantifiers",
      "WITH [1,2,3,4] AS xs RETURN any(x IN xs WHERE x > 3) AS a, all(x IN xs WHERE x > 0) AS b, none(x IN xs WHERE x > 4) AS c, single(x IN xs WHERE x = 2) AS d",
      Some("SELECT len(list_filter(xs, x -> x > 3)) > 0 AS a, len(list_filter(xs, x -> NOT x > 0)) = 0 AS b, len(list_filter(xs, x -> x > 4)) = 0 AS c, len(list_filter(xs, x -> x = 2)) = 1 AS d FROM (SELECT [1,2,3,4]::BIGINT[] AS xs) t")),
    // --- startNode / endNode element functions ---
    ("q_startend",
      "MATCH (c:Customer)-[p:PLACED]->(o:Order) RETURN id(startNode(p)) = id(c) AS sok, id(endNode(p)) = id(o) AS eok, count(*) AS n",
      Some("SELECT TRUE AS sok, TRUE AS eok, count(*) AS n FROM orders")),
    // --- continuous percentile aggregator ---
    ("q_percentile_cont",
      "MATCH (l:LineItem) RETURN percentileCont(l.l_quantity, 0.5) AS p",
      Some("SELECT quantile_cont(l_quantity, 0.5) AS p FROM lineitem")),
    // --- keys() over node properties (null-aware) ---
    ("q_keys",
      "MATCH (n:Region) RETURN n.r_name AS rn, size(keys(n)) AS nk",
      Some("SELECT r_name AS rn, CAST(CASE WHEN r_regionkey IS NOT NULL THEN 1 ELSE 0 END + CASE WHEN r_name IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS nk FROM region")),
    // --- OPTIONAL MATCH as first clause: one null row on no match ---
    ("q_optional_first",
      "OPTIONAL MATCH (x:Customer) WHERE x.c_acctbal > 999999999.0 RETURN x.c_name AS name",
      Some("SELECT c_name AS name FROM customer WHERE c_acctbal > 999999999.0 UNION ALL SELECT NULL AS name WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 999999999.0)")),
    // --- var-length expand anchored from a pre-bound target ---
    ("q_varexpand_bound_tgt",
      "MATCH (r:Region {r_name: 'ASIA'}) MATCH (n:Nation)-[:IN_REGION*1..1]->(r) RETURN n.n_name AS name",
      Some("SELECT n_name AS name FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'")),
    // --- label constraint on a var re-bound from a previous clause ---
    ("q_rebound_label",
      "MATCH (x) WITH x MATCH (x:Region)<-[:IN_REGION]-(n:Nation) RETURN count(*) AS n",
      Some("SELECT count(*) AS n FROM nation")),
    // --- UNION across different source labels ---
    ("q_union_mixed",
      "MATCH (n:Nation) RETURN n.n_name AS name UNION MATCH (r:Region) RETURN r.r_name AS name",
      Some("SELECT n_name AS name FROM nation UNION SELECT r_name AS name FROM region")),
    // --- collect aggregator (size-projected: list results break the driver compare) ---
    ("q_collect_size",
      "MATCH (n:Nation) RETURN n.n_regionkey AS rk, size(collect(n.n_name)) AS c",
      Some("SELECT n_regionkey AS rk, CAST(count(n_name) AS BIGINT) AS c FROM nation GROUP BY 1")),
    // --- duration aggregates (sum/avg/min/max over (months,days,micros)
    //     structs; projected to fields so DuckDB can replay as arithmetic.
    //     min/max order by total length (avg-month rule); days<8 and
    //     minutes<60 make the decomposition of a total unique, so arg_min
    //     over the total is deterministic in the oracle too. ---
    ("q_duration_agg",
      "MATCH (l:LineItem) WITH duration({days: l.l_linenumber, minutes: l.l_partkey % 60}) AS d " +
        "WITH sum(d) AS s, avg(d) AS a, min(d) AS mn, max(d) AS mx " +
        "RETURN s.days AS sum_days, s.micros AS sum_micros, a.days AS avg_days, " +
        "mn.days AS min_days, mn.micros AS min_micros, mx.days AS max_days, mx.micros AS max_micros",
      Some("""SELECT CAST(sum(l_linenumber) AS BIGINT) AS sum_days,
           CAST(sum((l_partkey % 60) * 60000000) AS BIGINT) AS sum_micros,
           CAST(trunc(avg(l_linenumber)) AS BIGINT) AS avg_days,
           CAST(arg_min(l_linenumber, l_linenumber * 86400000000 + (l_partkey % 60) * 60000000) AS BIGINT) AS min_days,
           CAST(arg_min((l_partkey % 60) * 60000000, l_linenumber * 86400000000 + (l_partkey % 60) * 60000000) AS BIGINT) AS min_micros,
           CAST(arg_max(l_linenumber, l_linenumber * 86400000000 + (l_partkey % 60) * 60000000) AS BIGINT) AS max_days,
           CAST(arg_max((l_partkey % 60) * 60000000, l_linenumber * 86400000000 + (l_partkey % 60) * 60000000) AS BIGINT) AS max_micros
         FROM lineitem""")),
    // --- path value: length / nodes / relationships on a named path ---
    ("q_path_funcs",
      "MATCH p = (c:Customer)-[:PLACED]->(o:Order)-[:HAS_ITEM]->(l:LineItem) " +
        "RETURN length(p) AS len, size(nodes(p)) AS nn, size(relationships(p)) AS nr, count(*) AS cnt",
      Some("SELECT CAST(2 AS BIGINT) AS len, CAST(3 AS BIGINT) AS nn, CAST(2 AS BIGINT) AS nr, count(*) AS cnt FROM lineitem")),
    ("q_path_varlen",
      "MATCH p = (n:Nation)-[:IN_REGION*0..1]->(x) RETURN length(p) AS len, count(*) AS n",
      Some("""SELECT CAST(0 AS BIGINT) AS len, count(*) AS n FROM nation
         UNION ALL
         SELECT CAST(1 AS BIGINT) AS len, count(*) AS n FROM nation JOIN region ON r_regionkey = n_regionkey""")),
    // --- shortestPath: beyond-reference surface (the reference TCK-
    //     blacklists it); min-length pruning over the bounded var-length
    //     expand, one window shuffle keyed on the endpoint pair ---
    ("q_shortest_path",
      "MATCH p = shortestPath((c:Customer)-[*1..3]->(r:Region)) " +
        "WHERE c.c_custkey < 100 " +
        "RETURN c.c_custkey AS ck, r.r_name AS rn, length(p) AS l",
      Some("SELECT c_custkey AS ck, r_name AS rn, CAST(2 AS BIGINT) AS l " +
        "FROM customer JOIN nation ON n_nationkey = c_nationkey " +
        "JOIN region ON r_regionkey = n_regionkey WHERE c_custkey < 100")),
    // --- Cypher-5 keyword selector SHORTEST k: per (customer, nation)
    //     pair the path set is 1 direct FROM_NATION hop (length 1, only to
    //     the customer's own nation) plus one length-4 path per
    //     order->lineitem->supplier chain into that nation — nothing at
    //     lengths 2..3 targets a Nation. SHORTEST 2 therefore keeps
    //     min(2, direct + chains) paths, and the shortest kept is length 1
    //     iff a direct hop exists, else 4 — both closed-form in SQL. ---
    ("q_shortest_k",
      "MATCH p = SHORTEST 2 (c:Customer)-[*1..4]->(n:Nation) " +
        "WHERE c.c_custkey < 20 " +
        "RETURN c.c_custkey AS ck, n.n_name AS nn, " +
        "count(*) AS paths, min(length(p)) AS minl",
      Some("""WITH sup AS (
          SELECT o_custkey AS ck, s_nationkey AS nk, count(*) AS chains
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON s_suppkey = l_suppkey
          WHERE o_custkey < 20 GROUP BY 1, 2),
        direct AS (SELECT c_custkey AS ck, c_nationkey AS nk
          FROM customer WHERE c_custkey < 20),
        allp AS (
          SELECT coalesce(s.ck, d.ck) AS ck, coalesce(s.nk, d.nk) AS nk,
            CASE WHEN d.ck IS NOT NULL THEN 1 ELSE 0 END AS has_direct,
            coalesce(s.chains, 0) AS chains
          FROM sup s FULL JOIN direct d ON s.ck = d.ck AND s.nk = d.nk)
        SELECT ck, n_name AS nn,
          CAST(least(2, has_direct + chains) AS BIGINT) AS paths,
          CAST(CASE WHEN has_direct = 1 THEN 1 ELSE 4 END AS BIGINT) AS minl
        FROM allp JOIN nation ON n_nationkey = nk""")),
    // --- generalized selectors (round 10): ALL SHORTEST over a mixed
    //     fixed + var-length pattern. Every supplier's only route is the
    //     length-2 chain (regions have no out-edges), so the selection is
    //     the join — the row exercises the mixed-hop length/tie-break
    //     machinery end-to-end against a closed-form oracle. ---
    ("q_shortest_mixed",
      "MATCH p = ALL SHORTEST (s:Supplier)-[:FROM_NATION]->(n:Nation)" +
        "-[:IN_REGION*1..2]->(r:Region) " +
        "RETURN s.s_suppkey AS sk, r.r_name AS rn, length(p) AS len",
      Some("SELECT s_suppkey AS sk, r_name AS rn, CAST(2 AS BIGINT) AS len " +
        "FROM supplier JOIN nation ON n_nationkey = s_nationkey " +
        "JOIN region ON r_regionkey = n_regionkey")),
    // --- shortestPath in EXPRESSION position (round 12): desugars onto
    //     the pattern-comprehension machinery with the shortest selector,
    //     correlated on BOTH bound endpoints; a pair with no path reads
    //     null. The only supplier->region route is the length-2 chain
    //     through the supplier's own nation, so reachability is the
    //     region-key equality — closed-form in SQL. ---
    ("q_shortest_path_expr",
      "MATCH (s:Supplier), (r:Region) WHERE s.s_suppkey < 40 " +
        "WITH s, r, shortestPath((s)-[*1..2]->(r)) AS p " +
        "RETURN s.s_suppkey AS sk, r.r_name AS rn, length(p) AS l, " +
        "p IS NOT NULL AS reachable",
      Some("""SELECT s_suppkey AS sk, r_name AS rn,
        CASE WHEN r_regionkey = n_regionkey THEN CAST(2 AS BIGINT) END AS l,
        (r_regionkey = n_regionkey) AS reachable
        FROM supplier JOIN nation ON n_nationkey = s_nationkey
        CROSS JOIN region WHERE s_suppkey < 40""")),
    // --- unit (updating, RETURN-less) CALL subquery (round 10): one CREATE
    //     per driving row, then a read over the written graph — the
    //     Neo4j CALL { } IN TRANSACTIONS batch-write shape. ---
    ("q_call_unit",
      "MATCH (r:Region) CALL (r) { CREATE (:Flag {rk: r.r_regionkey}) } " +
        "IN TRANSACTIONS OF 2 ROWS WITH * MATCH (f:Flag) " +
        "RETURN r.r_regionkey AS rk, count(*) AS n",
      Some("SELECT r_regionkey AS rk, CAST(5 AS BIGINT) AS n FROM region")),
    // --- datetime timezone component (round 10): components are wall time
    //     in the zone, converted to the UTC instant with real zone rules
    //     (DuckDB replays via ICU AT TIME ZONE; dates span DST both ways).
    ("q_datetime_tz",
      "MATCH (o:Order) WHERE o.o_orderkey < 100 " +
        "RETURN o.o_orderkey AS ok, toString(datetime({" +
        "year: o.o_orderdate.year, month: o.o_orderdate.month, " +
        "day: o.o_orderdate.day, hour: 12, timezone: 'Europe/Berlin'})) AS ts",
      Some("""SELECT o_orderkey AS ok,
        strftime((date_trunc('day', o_orderdate) + INTERVAL 12 HOUR)
          AT TIME ZONE 'Europe/Berlin' AT TIME ZONE 'UTC',
          '%Y-%m-%dT%H:%M:%S') AS ts
        FROM orders WHERE o_orderkey < 100""")),
    // --- entity round-trip (round 12): collect(n) captures full entity
    //     structs, UNWIND restores entity semantics (property reads,
    //     filters, grouping) — zero extra joins at capture; the struct
    //     rides the one collect shuffle. ---
    ("q_entity_roundtrip",
      "MATCH (n:Nation) WITH collect(n) AS ns UNWIND ns AS m " +
        "WITH m WHERE m.n_regionkey >= 2 " +
        "RETURN m.n_regionkey AS rk, count(*) AS n, " +
        "min(m.n_name) AS first_name",
      Some("""SELECT n_regionkey AS rk, count(*) AS n,
        min(n_name) AS first_name FROM nation
        WHERE n_regionkey >= 2 GROUP BY n_regionkey""")),
    // --- pattern comprehension: correlated subquery -> grouped collect,
    //     left-joined back on the shared var (beyond-reference: the
    //     reference TCK-blacklists pattern comprehensions). Content checked
    //     order-independently via size + reduce-sum ---
    ("q_pattern_comp",
      "MATCH (n:Nation) RETURN n.n_name AS nm, " +
        "size([(n)<-[:FROM_NATION]-(c:Customer) | c.c_custkey]) AS nc, " +
        "reduce(s = 0, k IN [(n)<-[:FROM_NATION]-(c:Customer) | c.c_custkey] | s + k) AS sumk",
      Some("""SELECT n_name AS nm, CAST(coalesce(cnt, 0) AS INTEGER) AS nc,
           CAST(coalesce(sk, 0) AS BIGINT) AS sumk
         FROM nation LEFT JOIN (SELECT c_nationkey, count(*) AS cnt,
           sum(c_custkey) AS sk FROM customer GROUP BY 1) j
         ON c_nationkey = n_nationkey""")),
    // --- entity lambdas over path functions: reduce/quantifiers over
    //     relationships(p) read rel PROPERTIES (the path struct stores bare
    //     ids; the planner materializes ordered entity-struct lists per
    //     distinct id array and the binder compiles under entity-struct
    //     env rules). HAS_ITEM rows carry no l_quantity -> coalesce 0 ---
    ("q_path_entity_lambda",
      "MATCH p = (o:Order)-[:HAS_ITEM]->(:LineItem)-[:OF_PART]->(:Part) " +
        "WHERE o.o_orderkey <= 500 " +
        "RETURN o.o_orderkey AS ok, " +
        "round(sum(reduce(s = 0.0, r IN relationships(p) | s + coalesce(r.l_quantity, 0.0))), 4) AS q",
      Some("SELECT o_orderkey AS ok, round(sum(l_quantity), 4) AS q " +
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE o_orderkey <= 500 GROUP BY 1")),
    // --- composite pattern scans (NodeRelPattern/TripletPattern): the
    //     lineitem fact table co-stores HAS_ITEM/OF_PART rels with the
    //     LineItem node, so these plan with zero / one join (no self-join;
    //     asserted in PatternScanSpec) ---
    ("q_pattern_scan",
      "MATCH ()-[:HAS_ITEM]->(l:LineItem) RETURN l.l_linenumber AS ln, count(*) AS n",
      Some("SELECT l_linenumber AS ln, count(*) AS n FROM lineitem GROUP BY 1")),
    ("q_pattern_triplet",
      "MATCH (l:LineItem)-[:OF_PART]->(p:Part) RETURN p.p_name AS pn, round(sum(l.l_quantity), 4) AS q",
      Some("SELECT p_name AS pn, round(sum(l_quantity), 4) AS q FROM lineitem JOIN part ON p_partkey = l_partkey GROUP BY 1")),
    // --- CALL { } subquery (beyond-reference): correlated per-row count
    //     via the importing WITH; empty groups read 0 ---
    ("q_call_subquery",
      "MATCH (c:Customer) CALL { WITH c MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > 100000.0 RETURN count(*) AS big_orders } RETURN c.c_custkey AS ck, big_orders",
      Some("SELECT c_custkey AS ck, (SELECT count(*) FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000.0) AS big_orders FROM customer")),
    // --- CALL { } UNION body (round 6): both arms run per driving row;
    //     the distinct is scoped to each driving row by the pinned row id ---
    ("q_call_union",
      "MATCH (n:Nation) CALL { WITH n MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN count(*) AS x UNION WITH n RETURN n.n_regionkey AS x } RETURN n.n_name AS name, x",
      Some("""SELECT n_name AS name, x FROM nation, LATERAL (
             |  SELECT count(*) AS x FROM supplier WHERE s_nationkey = n_nationkey
             |  UNION SELECT n_regionkey AS x) t""".stripMargin)),
    // --- CALL procedure with YIELD + post-aggregation: whole-graph degree
    //     distribution (ids drop out, so the tagged id space is irrelevant
    //     to the oracle, which rebuilds the edge multiset in SQL) ---
    ("q_call_degrees",
      "CALL degrees() YIELD degree RETURN degree, count(*) AS n",
      Some("""WITH li AS (SELECT row_number() OVER () AS lid, l_orderkey, l_partkey, l_suppkey FROM lineitem),
         edges AS (
           SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS src, 'r' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation
           UNION ALL SELECT 'c' || CAST(c_custkey AS VARCHAR), 'n' || CAST(c_nationkey AS VARCHAR) FROM customer
           UNION ALL SELECT 's' || CAST(s_suppkey AS VARCHAR), 'n' || CAST(s_nationkey AS VARCHAR) FROM supplier
           UNION ALL SELECT 'c' || CAST(o_custkey AS VARCHAR), 'o' || CAST(o_orderkey AS VARCHAR) FROM orders
           UNION ALL SELECT 'o' || CAST(l_orderkey AS VARCHAR), 'l' || CAST(lid AS VARCHAR) FROM li
           UNION ALL SELECT 'l' || CAST(lid AS VARCHAR), 'p' || CAST(l_partkey AS VARCHAR) FROM li
           UNION ALL SELECT 'l' || CAST(lid AS VARCHAR), 's' || CAST(l_suppkey AS VARCHAR) FROM li),
         outs AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY 1),
         ins AS (SELECT dst AS id, count(*) AS idg FROM edges GROUP BY 1),
         deg AS (SELECT coalesce(od, 0) + coalesce(idg, 0) AS degree
                 FROM outs FULL OUTER JOIN ins ON outs.id = ins.id)
         SELECT degree, count(*) AS n FROM deg GROUP BY 1""")))

  /** Multi-step entries that exercise the graph-returning surface
    * (CONSTRUCT, CONSTRUCT ON, graph union, FROM GRAPH + catalog): each
    * builds/derives a graph through the session API, then projects it back
    * to a table the DuckDB oracle can replay relationally. */
  private val graphQueries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    // CONSTRUCT cloning matched nodes + a NEW relationship per match row.
    ("q_construct_clone", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val built = session.cypherGraph(TpchGraph(s, dir),
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) CONSTRUCT NEW (c)-[:LIVES_IN]->(n) RETURN GRAPH")
      session.cypher(built,
        "MATCH (p:Customer)-[:LIVES_IN]->(n:Nation) RETURN p.c_custkey AS ck, n.n_name AS nation")
    }, Some("SELECT c_custkey AS ck, n_name AS nation FROM customer JOIN nation ON n_nationkey = c_nationkey")),
    // CONSTRUCT creating fresh nodes with evaluated properties.
    ("q_construct_new", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val built = session.cypherGraph(TpchGraph(s, dir),
        "MATCH (o:Order) CONSTRUCT NEW (:Receipt {ok: o.o_orderkey, gross: o.o_totalprice * 1.1}) RETURN GRAPH")
      session.cypher(built,
        "MATCH (r:Receipt) RETURN r.ok AS ok, round(r.gross, 4) AS gross")
    }, Some("SELECT o_orderkey AS ok, round(o_totalprice * 1.1, 4) AS gross FROM orders")),
    // CONSTRUCT ON: merge new elements into a catalog base graph, then
    // traverse base rels and new rels in one pattern.
    ("q_construct_on", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g = TpchGraph(s, dir)
      session.store("construct_base", g)
      val built = session.cypherGraph(g,
        "MATCH (r:Region) CONSTRUCT ON construct_base NEW (r)-[:TAGGED]->(:Tag {of: r.r_name}) RETURN GRAPH")
      session.cypher(built,
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region)-[:TAGGED]->(t:Tag) RETURN n.n_name AS nation, t.of AS tag")
    }, Some("SELECT n_name AS nation, r_name AS tag FROM nation JOIN region ON r_regionkey = n_regionkey")),
    // GraphUnionAll: retagged union of a graph with itself — every name
    // appears twice, rels stay within their own copy.
    ("q_graph_union", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g = TpchGraph(s, dir)
      session.cypher(g.unionAll(g),
        "MATCH (n:Nation)-[:IN_REGION]->(r:Region) RETURN r.r_name AS rn, count(*) AS n")
    }, Some("""SELECT r_name AS rn, count(*) AS n
         FROM (SELECT n_regionkey FROM nation UNION ALL SELECT n_regionkey FROM nation) nn
         JOIN region ON r_regionkey = nn.n_regionkey GROUP BY 1""")),
    // FROM GRAPH: switch the ambient graph to a session-catalog entry.
    ("q_from_graph", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      session.store("tpch_cat", TpchGraph(s, dir))
      session.cypher(graft.graph.PropertyGraph(Seq.empty),
        "FROM GRAPH session.tpch_cat MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN n.n_name AS nation, count(*) AS n")
    }, Some("SELECT n_name AS nation, count(*) AS n FROM customer JOIN nation ON n_nationkey = c_nationkey GROUP BY 1")),
    // --- write clauses (beyond-reference; GraftSession.update) ---
    // CREATE: one fresh node per driving row with computed properties.
    ("q_write_create", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g2 = session.update(TpchGraph(s, dir),
        "MATCH (r:Region) CREATE (m:Marker {rname: r.r_name, ln: r.r_regionkey + 100})")
      session.cypher(g2,
        "MATCH (m:Marker) RETURN m.rname AS rname, m.ln AS ln")
    }, Some("SELECT r_name AS rname, r_regionkey + 100 AS ln FROM region")),
    // SET: id-keyed property update visible to a later read of the graph.
    ("q_write_set", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g2 = session.update(TpchGraph(s, dir),
        "MATCH (c:Customer) WHERE c.c_acctbal < 0.0 SET c.debtor = true")
      session.cypher(g2,
        "MATCH (c:Customer) WHERE c.debtor RETURN count(*) AS n")
    }, Some("SELECT count(*) AS n FROM customer WHERE c_acctbal < 0.0")),
    // DELETE: matched relationships leave the graph, nodes stay.
    ("q_write_delete", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g2 = session.update(TpchGraph(s, dir),
        "MATCH (:Customer)-[r:PLACED]->(o:Order) WHERE o.o_totalprice < 50000.0 DELETE r")
      session.cypher(g2,
        "MATCH (:Customer)-[r:PLACED]->(:Order) RETURN count(*) AS n")
    }, Some("SELECT count(*) AS n FROM orders WHERE o_totalprice >= 50000.0")),
    // MERGE: one node per distinct key; re-running on the written graph is
    // idempotent (the second update matches everything it created).
    ("q_write_merge", (s: SparkSession, dir: String) => {
      val session = GraftSession(s)
      val g2 = session.update(TpchGraph(s, dir),
        "MATCH (c:Customer) MERGE (m:Segment {name: c.c_mktsegment})")
      val g3 = session.update(g2,
        "MATCH (c:Customer) MERGE (m:Segment {name: c.c_mktsegment})")
      session.cypher(g3, "MATCH (m:Segment) RETURN m.name AS name")
    }, Some("SELECT DISTINCT c_mktsegment AS name FROM customer")))

  private def cy(q: String): (SparkSession, String) => DataFrame =
    (s, dir) => GraftSession(s).cypher(TpchGraph(s, dir), q)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    GraftSession(spark).cypher(TpchGraph(spark, "/root/testdata/sf0.001"),
      """MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region),
        |      (c)-[:PLACED]->(o:Order)
        |WHERE o.o_totalprice > 100000.0
        |RETURN r.r_name AS region, count(*) AS orders,
        |       sum(o.o_totalprice) AS revenue
        |ORDER BY region""".stripMargin)

  /** The (name, Cypher text) of each plain Cypher row of [[queries]]. */
  def cypherRows: Seq[(String, String)] =
    cypherQueries.map { case (name, q, _) => (name, q) }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cypherQueries.map { case (name, q, _) => name -> cy(q) }.toMap ++
      graphQueries.map { case (name, fn, _) => name -> fn }.toMap ++
      graft.pipeline.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    cypherQueries.flatMap { case (name, _, sql) => sql.map(name -> _) }.toMap ++
      graphQueries.flatMap { case (name, _, sql) => sql.map(name -> _) }.toMap ++
      graft.pipeline.PipelineQueries.oracleSql
}
