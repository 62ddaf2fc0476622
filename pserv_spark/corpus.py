"""The validated declared-query corpus (SURVEY.md Appendix A).

73 query pairs, each hash-matched Spark-vs-DuckDB at sf0.01 and sf0.1
during the survey session.  ``SPARK_SQL[name]`` is the Spark 4.1.2 form
(run on the catalog views); ``oracle_sql()[name]`` is the DuckDB 1.0
oracle form with the canonical ``v_events``/``v_emb`` views inlined as
CTEs (the driver pre-registers only the ten raw tables in DuckDB).

The registry runs these strings as they stand for every corpus id but
the few in ``pserv_spark.queries``, whose DataFrame programs measurably
beat them.  For those ids the string here is the reference the program
is differentially tested against (tests/test_dataframe_parity.py), which
keeps "DataFrame-API vs SQL semantic drift" (SURVEY §7 watch list) a
tested invariant rather than a hope.

Determinism rules (SURVEY §4.5) are baked into every string: DECIMAL
casts before SUM, no ROUND on exact quotients, BIGINT casts on integer
sums, total ordering under every ROW_NUMBER/LIMIT, vector math in
double.
"""

from __future__ import annotations

# DuckDB inline definitions of the canonical views, on the driver's
# pre-registered raw-table views.  Both engines read events.ts as a
# naive µs timestamp, so epoch_us(ts) here equals Spark's
# ``unix_micros(CAST(ts AS TIMESTAMP))`` under a UTC session zone.
_DUCK_V_EVENTS = (
    "v_events AS (SELECT event_id, ts, CAST(epoch_us(ts) AS BIGINT) AS ts_us, "
    "user_id, event_type, value, props FROM events WHERE ts IS NOT NULL)"
)
_DUCK_V_EMB = (
    "v_emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label "
    "FROM embeddings WHERE embedding IS NOT NULL)"
)


def _inline_views(sql: str) -> str:
    """Prepend CTE definitions for v_events / v_emb when referenced."""
    preludes = []
    if "v_events" in sql:
        preludes.append(_DUCK_V_EVENTS)
    if "v_emb" in sql:
        preludes.append(_DUCK_V_EMB)
    if not preludes:
        return sql
    prelude = ", ".join(preludes)
    stripped = sql.lstrip()
    if stripped.upper().startswith("WITH "):
        return f"WITH {prelude}, {stripped[5:]}"
    return f"WITH {prelude} {stripped}"


_Q: dict[str, dict[str, str]] = {}


def _q(name: str, both: str | None = None, *, spark: str | None = None, duck: str | None = None) -> None:
    _Q[name] = {"spark": spark or both, "duck": duck or both}


# ---------- A. scan / project / filter ----------
_q('scan_project',
   "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem WHERE l_orderkey % 100 = 0")
_q('filter_compound',
   "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
   "WHERE (o_orderstatus = 'F' OR o_orderpriority LIKE '1-%') "
   "AND o_totalprice BETWEEN 1000 AND 50000 "
   "AND o_custkey IN (1,2,3,4,5,6,7,8,9,10) AND NOT o_orderstatus = 'P'")
_q('filter_null_logic',
   "SELECT l_orderkey, l_linenumber, NULLIF(l_tax, 0.0) AS tax_or_null, "
   "COALESCE(NULLIF(l_tax, 0.0), -1.0) AS tax_filled, "
   "(l_tax IS NULL) AS is_null, (l_tax IS NOT NULL) AS not_null "
   "FROM lineitem WHERE l_orderkey < 200")
_q('case_when',
   "SELECT o_orderkey, CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket "
   "FROM orders WHERE o_orderkey < 500")

# ---------- B. joins ----------
_q('join_inner',
   "SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey < 50")
_q('join_broadcast_dim',
   "SELECT p.p_brand, CAST(COUNT(*) AS BIGINT) AS n, "
   "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
   "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey GROUP BY p.p_brand")
_q('join_multiway_q5',
   "SELECT n.n_name, "
   "CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue "
   "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
   "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
   "JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
   "JOIN nation n ON s.s_nationkey = n.n_nationkey "
   "JOIN region r ON n.n_regionkey = r.r_regionkey "
   "WHERE r.r_name = 'ASIA' GROUP BY n.n_name")
_q('join_left_outer',
   "SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders FROM customer c "
   "LEFT JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey")
_q('join_right_outer',
   "SELECT n.n_name, CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_supp FROM supplier s "
   "RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey GROUP BY n.n_name")
_q('join_full_outer',
   "SELECT COALESCE(c.k, s.k) AS nationkey, c.nc AS n_cust, s.ns AS n_supp FROM "
   "(SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS nc FROM customer GROUP BY c_nationkey) c "
   "FULL OUTER JOIN (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS ns FROM supplier GROUP BY s_nationkey) s "
   "ON c.k = s.k")
_q('join_semi',
   "SELECT c.c_custkey FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)")
_q('join_anti',
   "SELECT c.c_custkey, c.c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)")
_q('join_in_subquery',
   "SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)")
_q('join_theta_band',
   "SELECT c.c_custkey, s.s_suppkey FROM customer c JOIN supplier s "
   "ON c.c_acctbal BETWEEN s.s_acctbal - 5 AND s.s_acctbal + 5 WHERE c.c_custkey % 10 = 0")
_q('join_equi_residual',
   "SELECT c.c_custkey, s.s_suppkey FROM customer c JOIN supplier s "
   "ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal WHERE c.c_custkey % 20 = 0")
_q('join_interval',
   "SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped FROM orders o JOIN lineitem l "
   "ON l.l_orderkey = o.o_orderkey AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 60 DAY "
   "GROUP BY o.o_orderkey")
_q('join_cross',
   "SELECT r1.r_name AS a, r2.r_name AS b FROM region r1 CROSS JOIN region r2")
_q('join_asof',
   spark="SELECT p.event_id, p.user_id, MAX(s.ts_us) AS last_signup_us "
         "FROM v_events p JOIN v_events s ON s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts_us <= p.ts_us "
         "WHERE p.event_type = 'purchase' GROUP BY p.event_id, p.user_id",
   duck="SELECT p.event_id, p.user_id, s.ts_us AS last_signup_us "
        "FROM (SELECT * FROM v_events WHERE event_type = 'purchase') p "
        "ASOF JOIN (SELECT * FROM v_events WHERE event_type = 'signup') s "
        "ON p.user_id = s.user_id AND p.ts_us >= s.ts_us")
_q('join_self_lineitem',
   "SELECT l1.l_orderkey, l1.l_linenumber, l2.l_linenumber AS other_line FROM lineitem l1 "
   "JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber "
   "WHERE l1.l_orderkey < 300")

# ---------- C. aggregation ----------
_q('agg_global',
   "SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders, "
   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
   "MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty FROM lineitem")
_q('agg_groupby_q1',
   "SELECT l_returnflag, l_linestatus, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, "
   "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge, "
   "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
   "CAST(COUNT(*) AS BIGINT) AS count_order "
   "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus")
_q('agg_distinct',
   "SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp, "
   "CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_dist_qty FROM lineitem GROUP BY l_returnflag")
_q('agg_having',
   "SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15")
_q('agg_grouping_sets',
   "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls "
   "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())")
_q('agg_rollup',
   "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")
_q('agg_cube',
   "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)")
_q('agg_stats',
   "SELECT c_nationkey, ROUND(STDDEV_SAMP(c_acctbal), 6) AS sd, ROUND(VAR_SAMP(c_acctbal), 6) AS var, "
   "ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi FROM customer GROUP BY c_nationkey")
_q('agg_corr',
   "SELECT l_returnflag, ROUND(CORR(l_quantity, l_extendedprice), 6) AS r, "
   "ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov FROM lineitem GROUP BY l_returnflag")
_q('agg_percentile',
   spark="SELECT event_type, ROUND(percentile(value, 0.5), 4) AS p50, ROUND(percentile(value, 0.9), 4) AS p90 FROM v_events GROUP BY event_type",
   duck="SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS p50, ROUND(quantile_cont(value, 0.9), 4) AS p90 FROM v_events GROUP BY event_type")
# tie-pinned ordering key (ties-tier audit, round 7): cents * 2^32 +
# orderkey resolves equal prices deterministically in both engines.
_q('agg_minmax_by',
   "SELECT o_custkey, "
   "MAX_BY(o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 4294967296 + o_orderkey) AS best_order, "
   "MIN_BY(o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 4294967296 + o_orderkey) AS worst_order "
   "FROM orders GROUP BY o_custkey")
_q('agg_filter_pivot',
   "SELECT user_id, "
   "CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks, "
   "CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases, "
   "CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS errors, "
   "ROUND(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(14,2))) AS DOUBLE), 2) AS purchase_value "
   "FROM v_events GROUP BY user_id")
_q('agg_bool',
   "SELECT o_custkey, BOOL_AND(o_totalprice > 2000) AS all_big, BOOL_OR(o_orderstatus = 'F') AS any_f "
   "FROM orders GROUP BY o_custkey")
_q('agg_string_sorted',
   spark="SELECT r.r_name, array_join(array_sort(collect_list(n.n_name)), ',') AS nations "
         "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name",
   duck="SELECT r.r_name, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations "
        "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name")

# ---------- D. window ----------
_q('win_topk_per_group',
   "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
   "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn <= 3")
_q('win_rank_dense',
   "SELECT o_orderkey, o_orderpriority, RANK() OVER (ORDER BY o_orderpriority NULLS LAST) AS rnk, "
   "DENSE_RANK() OVER (ORDER BY o_orderpriority NULLS LAST) AS drnk FROM orders WHERE o_orderkey < 300")
_q('win_lag_lead',
   "SELECT event_id, user_id, value, "
   "LAG(value) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_v, "
   "LEAD(value) OVER (PARTITION BY user_id ORDER BY ts_us) AS next_v, "
   "ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap_us "
   "FROM v_events WHERE user_id < 20")
_q('win_running_sum',
   "SELECT event_id, user_id, "
   "ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running, "
   "CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last3 "
   "FROM v_events WHERE user_id < 20")
_q('win_range_frame',
   "SELECT event_id, user_id, "
   "CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_us RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour "
   "FROM v_events WHERE user_id < 30")
_q('win_ntile_pctrank',
   "SELECT o_orderkey, NTILE(4) OVER (ORDER BY o_totalprice NULLS LAST, o_orderkey) AS quartile, "
   "ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice NULLS LAST, o_orderkey), 6) AS pr, "
   "ROUND(CUME_DIST() OVER (ORDER BY o_totalprice NULLS LAST, o_orderkey), 6) AS cd "
   "FROM orders WHERE o_orderkey < 1000")
_q('win_first_last',
   "SELECT event_id, user_id, "
   "FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_v, "
   "LAST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v "
   "FROM v_events WHERE user_id < 20")

# ---------- E. sort / limit / set ops ----------
_q('topk_global',
   "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")
_q('sort_multi_key_limit',
   "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem ORDER BY l_shipdate NULLS LAST, l_orderkey, l_linenumber LIMIT 25")
_q('set_union_all',
   "SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey AS k FROM supplier")
_q('set_union_distinct',
   "SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier")
_q('set_intersect',
   "SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000 INTERSECT SELECT s_nationkey AS k FROM supplier")
_q('set_except',
   "SELECT n_nationkey AS k FROM nation EXCEPT SELECT s_nationkey AS k FROM supplier")
_q('distinct_rows',
   "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")

# ---------- F. scalar functions ----------
_q('fn_string',
   spark="SELECT c_custkey, UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo, LENGTH(c_name) AS len, "
         "SUBSTR(c_name, 1, 8) AS pre, REPLACE(c_name, 'Customer', 'Cust') AS rep, "
         "TRIM(CONCAT('  ', c_name, '  ')) AS trimmed, LPAD(CAST(c_custkey AS STRING), 6, '0') AS padded, "
         "c_name || '/' || c_mktsegment AS joined, REVERSE(c_mktsegment) AS rev, "
         "SPLIT_PART(c_name, '#', 2) AS num_part "
         "FROM customer WHERE c_custkey < 100",
   duck="SELECT c_custkey, UPPER(c_name) AS up, LOWER(c_mktsegment) AS lo, LENGTH(c_name) AS len, "
        "SUBSTR(c_name, 1, 8) AS pre, REPLACE(c_name, 'Customer', 'Cust') AS rep, "
        "TRIM(CONCAT('  ', c_name, '  ')) AS trimmed, LPAD(CAST(c_custkey AS VARCHAR), 6, '0') AS padded, "
        "c_name || '/' || c_mktsegment AS joined, REVERSE(c_mktsegment) AS rev, "
        "SPLIT_PART(c_name, '#', 2) AS num_part "
        "FROM customer WHERE c_custkey < 100")
_q('fn_regex',
   spark="SELECT p_partkey, REGEXP_EXTRACT(p_name, '([a-z]+) ([a-z]+)', 1) AS color, "
         "REGEXP_REPLACE(p_name, '[aeiou]', '_') AS devowel, "
         "(p_type RLIKE '^(ECONOMY|PROMO)$') AS is_cheap FROM part WHERE p_partkey < 200",
   duck="SELECT p_partkey, REGEXP_EXTRACT(p_name, '([a-z]+) ([a-z]+)', 1) AS color, "
        "REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devowel, "
        "REGEXP_MATCHES(p_type, '^(ECONOMY|PROMO)$') AS is_cheap FROM part WHERE p_partkey < 200")
_q('fn_math',
   "SELECT l_orderkey, l_linenumber, ABS(l_discount - 0.05) AS a, CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS c, CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS f, "
   "ROUND(POWER(l_quantity, 2), 2) AS sq, ROUND(SQRT(l_quantity), 6) AS rt, "
   "ROUND(LN(l_extendedprice), 6) AS lg, ROUND(EXP(l_discount), 6) AS ex, "
   "MOD(CAST(l_quantity AS BIGINT), 7) AS m, CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sg, "
   "GREATEST(l_tax, l_discount) AS gr, LEAST(l_tax, l_discount) AS ls "
   "FROM lineitem WHERE l_orderkey < 100")
_q('fn_date',
   spark="SELECT o_orderkey, CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d, EXTRACT(YEAR FROM o_orderdate) AS y, "
         "EXTRACT(MONTH FROM o_orderdate) AS mo, EXTRACT(DAY FROM o_orderdate) AS dd, "
         "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, o_orderdate + INTERVAL 30 DAY AS due, "
         "datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS age_days "
         "FROM orders WHERE o_orderkey < 300",
   duck="SELECT o_orderkey, CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d, EXTRACT(YEAR FROM o_orderdate) AS y, "
        "EXTRACT(MONTH FROM o_orderdate) AS mo, EXTRACT(DAY FROM o_orderdate) AS dd, "
        "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon, o_orderdate + INTERVAL 30 DAY AS due, "
        "datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS age_days "
        "FROM orders WHERE o_orderkey < 300")
_q('fn_cast_try',
   spark="SELECT doc_id, CAST(n_chars AS DOUBLE) AS dc, CAST(doc_id AS STRING) AS sid, "
         "TRY_CAST(lang AS INT) AS bad_cast, CAST(n_chars > 200 AS INT) AS flag FROM documents WHERE doc_id < 100",
   duck="SELECT doc_id, CAST(n_chars AS DOUBLE) AS dc, CAST(doc_id AS VARCHAR) AS sid, "
        "TRY_CAST(lang AS INT) AS bad_cast, CAST(n_chars > 200 AS INT) AS flag FROM documents WHERE doc_id < 100")
# r9: k normalized through DOUBLE + FLOOR on both sides (identical on
# the all-integer real corpus; pinned divergence-free on the hostile
# tier's fractional/exponent/boolean payloads — a direct string->int
# cast ROUNDS in DuckDB but NULLs/throws in Spark ANSI).
_q('fn_json',
   spark="SELECT event_id, CAST(FLOOR(TRY_CAST(get_json_object(props, '$.k') AS DOUBLE)) AS INT) AS k "
         "FROM v_events WHERE user_id = 0",
   duck="SELECT event_id, CAST(FLOOR(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS INT) AS k "
        "FROM v_events WHERE user_id = 0")
_q('fn_array',
   spark="SELECT doc_id, size(split(text, ' ')) AS n_tokens, size(array_distinct(split(text, ' '))) AS n_uniq, "
         "array_contains(split(text, ' '), 'spark') AS has_spark, "
         "element_at(array_sort(array_distinct(split(text, ' '))), 1) AS first_token "
         "FROM documents WHERE doc_id < 100",
   duck="SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, len(list_distinct(string_split(text, ' '))) AS n_uniq, "
        "list_contains(string_split(text, ' '), 'spark') AS has_spark, "
        "list_sort(list_distinct(string_split(text, ' ')))[1] AS first_token "
        "FROM documents WHERE doc_id < 100")
_q('fn_explode_wordcount',
   spark="SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n FROM "
         "(SELECT explode(split(text, ' ')) AS w FROM documents) t GROUP BY w ORDER BY n DESC, w LIMIT 20",
   duck="SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n FROM "
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) t GROUP BY w ORDER BY n DESC, w LIMIT 20")
_q('fn_hash_md5',
   "SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 50")

# ---------- G. text / vector / astronomy-analog ----------
_q('dedup_exact',
   "SELECT h AS text_hash, CAST(COUNT(*) AS BIGINT) AS n_copies, MIN(doc_id) AS keeper "
   "FROM (SELECT doc_id, md5(text) AS h FROM documents) t GROUP BY h HAVING COUNT(*) > 1")
# Both forms carry the lossless size band (J >= 0.9 implies the
# distinct-token counts are within 10% of each other, since
# J <= min/max): it cuts the quadratic verify to same-size pairs
# without changing the result set, and gives DuckDB an IEJoin.
_q('dedup_jaccard',
   spark="WITH tok AS (SELECT doc_id, array_distinct(split(text, ' ')) AS ts FROM documents), "
         "tn AS (SELECT doc_id, ts, size(ts) AS n FROM tok) "
         "SELECT a.doc_id AS d1, b.doc_id AS d2, "
         "ROUND(CAST(size(array_intersect(a.ts, b.ts)) AS DOUBLE) / size(array_union(a.ts, b.ts)), 6) AS jac "
         "FROM tn a JOIN tn b ON a.doc_id < b.doc_id AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9 "
         "WHERE CAST(size(array_intersect(a.ts, b.ts)) AS DOUBLE) / size(array_union(a.ts, b.ts)) >= 0.9",
   duck="WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents), "
        "tn AS (SELECT doc_id, ts, len(ts) AS n FROM tok) "
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "ROUND(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(list_distinct(list_concat(a.ts, b.ts))), 6) AS jac "
        "FROM tn a JOIN tn b ON a.doc_id < b.doc_id AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9 "
        "WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) / len(list_distinct(list_concat(a.ts, b.ts))) >= 0.9")
_q('minhash_signature',
   spark="SELECT doc_id, MIN(md5(CONCAT('1', w))) AS h1, MIN(md5(CONCAT('2', w))) AS h2 FROM "
         "(SELECT doc_id, explode(array_distinct(split(text, ' '))) AS w FROM documents) t GROUP BY doc_id",
   duck="SELECT doc_id, MIN(md5(CONCAT('1', w))) AS h1, MIN(md5(CONCAT('2', w))) AS h2 FROM "
        "(SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents) t GROUP BY doc_id")
_q('tfidf',
   spark="WITH tok AS (SELECT doc_id, w FROM (SELECT doc_id, explode(split(text, ' ')) AS w FROM documents) x), "
         "tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w), "
         "dl AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id), "
         "df AS (SELECT w, COUNT(DISTINCT doc_id) AS d FROM tok GROUP BY w), "
         "nd AS (SELECT COUNT(*) AS total FROM documents) "
         "SELECT tf.doc_id, tf.w AS term, ROUND((CAST(tf.c AS DOUBLE) / dl.n) * LN(CAST(nd.total AS DOUBLE) / df.d), 6) AS tfidf "
         "FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN df ON tf.w = df.w CROSS JOIN nd WHERE tf.doc_id < 20",
   duck="WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), "
        "tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w), "
        "dl AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id), "
        "df AS (SELECT w, COUNT(DISTINCT doc_id) AS d FROM tok GROUP BY w), "
        "nd AS (SELECT COUNT(*) AS total FROM documents) "
        "SELECT tf.doc_id, tf.w AS term, ROUND((CAST(tf.c AS DOUBLE) / dl.n) * LN(CAST(nd.total AS DOUBLE) / df.d), 6) AS tfidf "
        "FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN df ON tf.w = df.w CROSS JOIN nd WHERE tf.doc_id < 20")
_q('text_stats_by_lang',
   spark="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
         "CAST(SUM(size(split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens, "
         "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang",
   duck="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens, "
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY lang")
_q('vec_cone_search',
   spark="SELECT vec_id, ROUND(SQRT(POWER(element_at(emb, 1) - 0.05, 2) + POWER(element_at(emb, 2) - 0.05, 2)), 6) AS dist "
         "FROM v_emb WHERE SQRT(POWER(element_at(emb, 1) - 0.05, 2) + POWER(element_at(emb, 2) - 0.05, 2)) < 0.08",
   duck="SELECT vec_id, ROUND(SQRT(POWER(emb[1] - 0.05, 2) + POWER(emb[2] - 0.05, 2)), 6) AS dist "
        "FROM v_emb WHERE SQRT(POWER(emb[1] - 0.05, 2) + POWER(emb[2] - 0.05, 2)) < 0.08")
_q('vec_crossmatch',
   spark="SELECT a.vec_id AS id1, b.vec_id AS id2, "
         "ROUND(SQRT(POWER(element_at(a.emb, 1) - element_at(b.emb, 1), 2) + POWER(element_at(a.emb, 2) - element_at(b.emb, 2), 2)), 6) AS dist "
         "FROM v_emb a JOIN v_emb b ON a.vec_id < b.vec_id "
         "WHERE SQRT(POWER(element_at(a.emb, 1) - element_at(b.emb, 1), 2) + POWER(element_at(a.emb, 2) - element_at(b.emb, 2), 2)) < 0.01",
   duck="SELECT a.vec_id AS id1, b.vec_id AS id2, "
        "ROUND(SQRT(POWER(a.emb[1] - b.emb[1], 2) + POWER(a.emb[2] - b.emb[2], 2)), 6) AS dist "
        "FROM v_emb a JOIN v_emb b ON a.vec_id < b.vec_id "
        "WHERE SQRT(POWER(a.emb[1] - b.emb[1], 2) + POWER(a.emb[2] - b.emb[2], 2)) < 0.01")
_q('vec_cosine_pairs',
   spark="SELECT a.vec_id AS id1, b.vec_id AS id2, "
         "ROUND(aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) / "
         "(SQRT(aggregate(a.emb, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)) * SQRT(aggregate(b.emb, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v))), 6) AS cos_sim "
         "FROM v_emb a CROSS JOIN v_emb b WHERE a.vec_id < 25 AND b.vec_id >= 475",
   duck="SELECT a.vec_id AS id1, b.vec_id AS id2, "
        "ROUND(list_dot_product(a.emb, b.emb) / (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))), 6) AS cos_sim "
        "FROM v_emb a CROSS JOIN v_emb b WHERE a.vec_id < 25 AND b.vec_id >= 475")
_q('vec_knn',
   spark="WITH sims AS (SELECT q.vec_id AS qid, c.vec_id AS cid, "
         "ROUND(aggregate(zip_with(q.emb, c.emb, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) / "
         "(SQRT(aggregate(q.emb, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)) * SQRT(aggregate(c.emb, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v))), 6) AS cos_sim "
         "FROM v_emb q CROSS JOIN v_emb c WHERE q.vec_id < 10 AND c.vec_id >= 10) "
         "SELECT qid, cid, cos_sim FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn FROM sims) t WHERE rn <= 5",
   duck="WITH sims AS (SELECT q.vec_id AS qid, c.vec_id AS cid, "
        "ROUND(list_dot_product(q.emb, c.emb) / (SQRT(list_dot_product(q.emb, q.emb)) * SQRT(list_dot_product(c.emb, c.emb))), 6) AS cos_sim "
        "FROM v_emb q CROSS JOIN v_emb c WHERE q.vec_id < 10 AND c.vec_id >= 10) "
        "SELECT qid, cid, cos_sim FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rn FROM sims) t WHERE rn <= 5")
_q('vec_centroid_per_label',
   spark="SELECT label, ROUND(AVG(element_at(emb, 1)), 6) AS c1, ROUND(AVG(element_at(emb, 2)), 6) AS c2, CAST(COUNT(*) AS BIGINT) AS n "
         "FROM v_emb GROUP BY label",
   duck="SELECT label, ROUND(AVG(emb[1]), 6) AS c1, ROUND(AVG(emb[2]), 6) AS c2, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM v_emb GROUP BY label")
_q('lightcurve_stats',
   "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs, "
   "CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS mean_v, "
   "ROUND(STDDEV_SAMP(value), 6) AS sd_v, "
   "ROUND(MAX(value) - MIN(value), 2) AS amplitude "
   "FROM v_events WHERE event_type = 'purchase' GROUP BY user_id HAVING COUNT(*) >= 3")
_q('phase_fold_binning',
   "SELECT event_type, CAST(FLOOR((ts_us % 86400000000) / 3600000000.0) AS BIGINT) AS hour_of_day, CAST(COUNT(*) AS BIGINT) AS n "
   "FROM v_events GROUP BY event_type, CAST(FLOOR((ts_us % 86400000000) / 3600000000.0) AS BIGINT)")

# ---------- H. events / streaming-in-batch ----------
_q('sessionize',
   "WITH flagged AS (SELECT user_id, ts_us, event_type, "
   "CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000 "
   "OR LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL THEN 1 ELSE 0 END AS new_sess "
   "FROM v_events), "
   "sess AS (SELECT user_id, ts_us, "
   "SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id "
   "FROM flagged) "
   "SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id, CAST(COUNT(*) AS BIGINT) AS n_events, "
   "CAST((MAX(ts_us) - MIN(ts_us)) AS BIGINT) AS duration_us "
   "FROM sess GROUP BY user_id, sess_id")
_q('window_tumbling',
   "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n, "
   "ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2) AS total_value "
   "FROM v_events GROUP BY date_trunc('day', ts), event_type")
_q('window_hopping',
   "SELECT CAST(FLOOR(ts_us / 21600000000.0) AS BIGINT) AS bucket_6h, event_type, CAST(COUNT(*) AS BIGINT) AS n "
   "FROM v_events GROUP BY CAST(FLOOR(ts_us / 21600000000.0) AS BIGINT), event_type")
_q('udf_zscore_analog',
   "SELECT event_id, user_id, "
   "ROUND((value - AVG(value) OVER (PARTITION BY user_id)) / NULLIF(STDDEV_SAMP(value) OVER (PARTITION BY user_id), 0), 6) AS z "
   "FROM v_events WHERE user_id < 30")
_q('funnel_conversion',
   "WITH f AS (SELECT user_id, "
   "MIN(CASE WHEN event_type = 'signup' THEN ts_us END) AS t_signup, "
   "MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) AS t_purchase "
   "FROM v_events GROUP BY user_id) "
   "SELECT CAST(COUNT(*) AS BIGINT) AS n_users, "
   "CAST(COUNT(t_signup) AS BIGINT) AS n_signed, "
   "CAST(COUNT(CASE WHEN t_purchase > t_signup THEN 1 END) AS BIGINT) AS n_converted FROM f")


#: Spark SQL form per query id (run on catalog views).
SPARK_SQL: dict[str, str] = {name: spec["spark"] for name, spec in _Q.items()}

#: DuckDB oracle form per query id, with v_events/v_emb inlined.
ORACLE_SQL: dict[str, str] = {name: _inline_views(spec["duck"]) for name, spec in _Q.items()}

QUERY_NAMES = tuple(_Q)
