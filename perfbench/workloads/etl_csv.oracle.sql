-- DuckDB equivalent of etl_csv.yml over the same CSV ({input}).
WITH src AS (
  SELECT * FROM read_csv('{input}', header = true, delim = ',', columns = {columns})
), classify AS (
  SELECT *,
         CASE WHEN l_quantity < 10 THEN 'small'
              WHEN l_quantity < 30 THEN 'medium' ELSE 'large' END AS size_band,
         l_extendedprice * (1 - l_discount) AS net_price,
         len(string_split(l_comment, ' ')) AS comment_words
  FROM src
), trim AS (
  SELECT * EXCLUDE (l_tax, l_comment) FROM classify
  WHERE l_returnflag <> 'R' AND l_shipmode <> 'MAIL'
), top_lines AS (
  SELECT * FROM trim
  QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY net_price DESC, l_linenumber) <= 2
)
SELECT *, year(l_shipdate) AS ship_year, l_quantity >= 40 AS is_bulk FROM top_lines
