-- The `repl` script: one statement per line, `<id><TAB><sql>`. Each line
-- is typed at the SqlRepl prompt as is; `${OUT}` becomes the run's output
-- directory. The r* statements read the workbook (excel_rows), the p*
-- statements the parquet tables.
r01_totals	SELECT COUNT(*) AS n, COUNT(DISTINCT service_id) AS ids, SUM(requests) AS req, SUM(errors) AS err, SUM(latency_ms) AS lat, SUM(cost) AS cost, COUNT(cost) AS n_cost FROM excel_rows
r02_case	SELECT CASE WHEN latency_ms < 500 THEN 'fast' WHEN latency_ms < 1500 THEN 'ok' ELSE 'slow' END AS band, UPPER(SUBSTR(team, 6, 1)) AS grp, COUNT(DISTINCT region) AS regions, COUNT(*) AS n, SUM(errors) AS err FROM excel_rows WHERE status <> 'retired' GROUP BY 1, 2 ORDER BY 1, 2
r03_having	SELECT team, COUNT(*) AS n, SUM(errors) AS err FROM excel_rows WHERE status = 'active' GROUP BY team HAVING SUM(errors) > 87000 ORDER BY err DESC, team |out=${OUT}/r03_having.csv
r04_cte_rank	WITH t AS (SELECT service_id, region, cost, RANK() OVER (PARTITION BY region ORDER BY cost DESC) AS rk FROM excel_rows WHERE cost IS NOT NULL) SELECT service_id, CONCAT(region, '/', rk) AS slot, cost FROM t WHERE rk <= 3 ORDER BY cost DESC, service_id LIMIT 20 |out=${OUT}/r04_cte_rank.csv
p01_join	SELECT n.n_name, COUNT(*) AS orders, SUM(o.o_totalprice) AS revenue FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name ORDER BY revenue DESC, n.n_name
p02_rownum	SELECT c_mktsegment, c_name, c_acctbal, rn FROM (SELECT c_mktsegment, c_name, c_acctbal, ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer) t WHERE rn <= 3 ORDER BY c_mktsegment, rn |out=${OUT}/p02_rownum.csv
