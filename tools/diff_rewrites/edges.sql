SELECT k, id FROM t -- note (
ORDER BY k, id LIMIT 1 BY k
;;
SELECT k, id FROM t /* ( */ ORDER BY k, id LIMIT 1 BY k
;;
SELECT k AS `k(`, id FROM t ORDER BY `k(`, id LIMIT 1 BY `k(`
;;
SELECT /*+ REPARTITION(2) */ k, id FROM t ORDER BY k, id LIMIT 1 BY k
;;
SELECT k, id FROM t ORDER BY k LIMIT 1, 2 BY k, 'x,y'
;;
SELECT k AS d, count(1) AS c FROM t GROUP BY k /* ) */ ORDER BY d WITH FILL FROM 0 TO 4
;;
SELECT id FROM t ORDER BY k -- (
LIMIT 2 WITH TIES
;;
SELECT id FROM t PREWHERE k = 1 -- (
WHERE g = 0 ORDER BY id DESC
;;
SELECT id FROM t PREWHERE k = 1 /* WHERE x */ AND g = 0
;;
SELECT id, sum(value) AS s FROM fin_t FINAL GROUP BY id -- maybe WITH TOTALS later
;;
SELECT id, sum(value) AS s FROM fin_t FINAL GROUP BY id /* no WITH TOTALS */
;;
SELECT sum(value) AS s FROM fin_t -- not FROM fin_t FINAL
;;
SELECT id, sum(value) AS s FROM fin_t FINAL GROUP BY id HAVING max('x\'') <> ' WITH TOTALS'
;;
SELECT 'it\'s' AS s, count(1) FROM t GROUP BY 1 WITH TOTALS
;;
SELECT 'C:\\' AS p, x FROM t LIMIT 2, 3
;;
SELECT concat('a\\', 'b') AS s FROM t FINAL
;;
SELECT x FROM t /* ARRAY JOIN arr AS a */ WHERE 1 = 1
;;
SELECT x FROM t -- ARRAY JOIN arr AS a
ARRAY JOIN arr AS a
;;
SELECT a.x FROM t a /* ANY LEFT JOIN u */ LEFT JOIN u b ON a.k = b.k
;;
SELECT a.x FROM t a -- GLOBAL JOIN
JOIN u b ON a.k = b.k
;;
SELECT quantile(0.5)(x) /* quantile(0.9)(y) */ FROM t
;;
SELECT x FROM t SAMPLE 0.5 -- SAMPLE 0.1
;;
SELECT x FROM t /* SETTINGS a = 1 */ SETTINGS max_threads = 2
;;
SELECT x FROM t QUALIFY row_number() OVER (ORDER BY x) = 1 -- ORDER BY y
ORDER BY x
;;
SELECT x, row_number() OVER (ORDER BY x) AS rn FROM t QUALIFY rn <= 2 ORDER BY x LIMIT 5
;;
SELECT x FROM (SELECT x FROM t QUALIFY x > 1)
;;
SELECT * FROM (SELECT x FROM t ORDER BY x) AS a PASTE JOIN (SELECT y FROM u ORDER BY y LIMIT 3) AS b
;;
SELECT a.*, b.y FROM (SELECT x FROM t ORDER BY x DESC) AS a PASTE JOIN (SELECT y FROM u ORDER BY y) AS b ORDER BY x
;;
SELECT x FROM (SELECT x FROM t) AS a PASTE JOIN (SELECT y FROM u ORDER BY y) AS b
;;
SELECT * FROM (SELECT x FROM t ORDER BY 1) AS a PASTE JOIN (SELECT y FROM u ORDER BY y) AS b
;;
WITH 2 AS two, two * 3 AS six SELECT two, six, x FROM t
;;
WITH 1 AS one /* FROM */ SELECT one FROM t
;;
SELECT * REPLACE (k * 10 AS k, concat('(', g) AS g) FROM t
;;
SELECT dateDiff('day', a, b) FROM t -- dateDiff('hour', a, b)
;;
SELECT x FROM numbers(10) /* numbers(3) */
;;
SELECT DISTINCT ON (k) k, x FROM t ORDER BY k, x -- DISTINCT ON (x)
;;
CREATE TABLE c1 (`k` UInt64 /* key */, `d` Date) ENGINE = MergeTree ORDER BY k
;;
CREATE TABLE c2 (`s` String DEFAULT 'it\'s, (x', `n` UInt8) ENGINE = MergeTree ORDER BY n
;;
CREATE TABLE c3 (`d` Date COMMENT 'a--b', `n` UInt32) ENGINE = MergeTree ORDER BY d -- a real comment (
SETTINGS index_granularity = 8192
;;
CREATE TABLE c4
(
    `k` UInt64, -- the key
    /* ENGINE = Memory */ `v` Float64
)
ENGINE = ReplacingMergeTree(v) PARTITION BY toMonday(d) ORDER BY (k) -- ORDER BY v
;;
CREATE TABLE c5 (`k(` UInt8, `d` Date) ENGINE = MergeTree ORDER BY (`k(`, d)
;;
SELECT toMonday(d) AS wk, -- the day
uniqState(uid) AS u FROM src GROUP BY wk
;;
SELECT toMonday(d) AS wk /* not FROM other */, uniqState(uid) AS u FROM src GROUP BY wk
;;
SELECT g, argMinState(v, 'a,b') AS am FROM src GROUP BY g
;;
SELECT k, /* a, b */ sum(x) GROUP BY k
;;
SELECT k /* GROUP BY z */, sum(x) GROUP BY k
;;
SELECT k, sum(x), count() GROUP BY k
;;
CREATE MATERIALIZED VIEW mv1 ENGINE = AggregatingMergeTree /* POPULATE */ AS SELECT k, uniqState(u) AS s FROM src GROUP BY k
;;
CREATE MATERIALIZED VIEW mv2 ENGINE = AggregatingMergeTree POPULATE AS SELECT k, uniqState(u) AS s FROM src GROUP BY k
;;
ALTER TABLE t ADD PROJECTION p (SELECT k, /* a, b */ sum(x) GROUP BY k)
;;
ALTER TABLE t DELETE WHERE s = 'it\'s' -- WHERE x
;;
format = 'csv_with_names', compression = 'gzip', schema = (a Int32, b String)
;;
format='csv_with_names', /* compression = 'none', */ schema = (a Int32 not null)
;;
SELECT x FROM `conn`.`/p/*.csv` WITH (format = 'csv_with_names', schema = (x Int32)) -- WITH (format = 'parquet')
