"""Verbatim TPC-DS query texts over the synthetic TPC-DS schema.

The reference executes the 99 TPC-DS queries as unmodified SQL strings
(`docker/trino-client/src/run_workload.py:26-44`; texts under
`docker/trino-client/queries/q*.sql`, standard qgen default-parameter
instantiations). This module runs those same texts through ``spark.sql``
against the synthetic schema of `tpcds_schema.py`, each with a DuckDB
oracle that is the IDENTICAL text prefixed by the schema-definition
WITH-prelude — so every hash match verifies the query on both engines
end to end.

Determinism adjustments (the only permitted deviations from the
reference text, mirroring the policy of `tpch_texts.py`):

* **aliases** added to otherwise-unnamed output expressions (the driver
  compares schemas by column name; engine auto-naming differs);
* **NULLS FIRST/LAST** made explicit on ORDER BY keys that can be NULL
  (ROLLUP grouping keys): Spark defaults to NULLS FIRST for ASC where
  DuckDB defaults to NULLS LAST, which silently changes LIMIT cuts;
* **tie-break keys** appended to ORDER BY when a LIMIT could otherwise
  cut between rows that differ in unsorted output columns;
* **DECIMAL(p,s) zero-literals** become BIGINT to match the integer
  money model of the synthetic schema (`cast(0 AS DECIMAL(7,2))` →
  `cast(0 AS BIGINT)`), keeping all aggregate arithmetic exact and
  order-free on both engines;
* **aggregate type pinning**: output-level integer sums are wrapped in
  `CAST(... AS BIGINT)` — DuckDB widens BIGINT sums to HUGEINT, which
  pandas renders as float64 and the driver's value hash then rejects
  against Spark's int64 (same policy as `tpch_texts.py`);
* **zero-divisor pinning**: unguarded ratio denominators that CAN be a
  zero aggregate (q2/q31/q58/q59's same-period sums, the q12/q20/q98
  in-class revenue shares) are wrapped in `nullif(..., 0)` with the
  numerator cast to DOUBLE — Spark's ANSI mode throws DIVIDE_BY_ZERO
  for every numeric type (doubles included) where DuckDB yields inf,
  and a zero sum first appears at sf0.1 (q59 bit exactly this; q75's
  prev-year sales_cnt — quantities minus returns — first sums to zero
  at the 10x probe scale, so its year-over-year ratio is pinned too.
  q75 edge case, documented: for a POSITIVE current-year count over a
  zero prev-year count, the NULL ratio fails `< 0.9` exactly like
  DuckDB's +inf would; but for a NEGATIVE current-year count (returns
  exceeding sales) over a zero prev-year count, DuckDB's verbatim text
  yields -inf, which PASSES `< 0.9`, while the pinned NULL fails it —
  the normalized text diverges from the reference's verbatim semantics
  in that one corner.  Both engines here run the SAME pinned text, so
  oracle matching is unaffected; only bug-for-bug inf fidelity is
  traded away, and deliberately — a NULL "undefined growth" row is the
  defensible report semantics where -inf is an IEEE artifact);
  CASE-guarded ratios (q4/q21/q31/q74 filters) stay verbatim;
* **round pinning over DOUBLE**: q2's `round(ratio, 2)` becomes
  `floor(ratio * 100 + 0.5) / 100` — Spark rounds doubles HALF_UP on the
  shortest decimal representation (round(0.285, 2) = 0.29) where DuckDB
  rounds the binary value (= 0.28); floor/mul/add are bit-identical IEEE
  ops on both engines, and the ratios are non-negative so HALF_UP and
  floor(+0.5) agree. Verified divergence class — not hypothetical.

No structural change is made: FROM/JOIN graphs, subquery shapes, GROUP
BY/ROLLUP/HAVING, window frames, set operations, and all filter
literals are the reference's.

Sparsity note: a few queries legitimately return 0 rows at tiny scale
factors and fill in as data grows — q58/q78/q83 demand the same
(item[, customer]) to coincide across all three sales channels in a
narrow window (a cross-channel coincidence real TPC-DS also makes
vanishingly rare at SF << 1), and q54/q64/q85/q91's deep
demographic/geo filter chains leave ≲1 expected row below sf0.1
(q54/q64/q85 are non-empty at sf0.1). The oracle comparison holds at
every SF either way — 0 rows on both engines is still a verified match.
"""

from __future__ import annotations

import json
import operator
from functools import reduce
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

from lakehouse_variance_spark.plans.synth_common import (
    catalog_memo,
    catalog_state_dirty,
)
from lakehouse_variance_spark.plans.tpcds_schema import (
    oracle_sql_for,
    register_tpcds_views,
)
from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.sources.snapshots import catalyst_tree, conjuncts

TPCDS_TEXTS: dict[str, str] = {}

# --- q1: customers returning more than 1.2x their store's average --------
TPCDS_TEXTS["tpcds_q1"] = """
WITH customer_total_return AS
( SELECT
    sr_customer_sk AS ctr_customer_sk,
    sr_store_sk AS ctr_store_sk,
    sum(sr_return_amt) AS ctr_total_return
  FROM store_returns, date_dim
  WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
  GROUP BY sr_customer_sk, sr_store_sk)
SELECT c_customer_id
FROM customer_total_return ctr1, store, customer
WHERE ctr1.ctr_total_return >
  (SELECT avg(ctr_total_return) * 1.2
  FROM customer_total_return ctr2
  WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
  AND s_store_sk = ctr1.ctr_store_sk
  AND s_state = 'TN'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id
LIMIT 100
"""

# --- q2: week-over-year web+catalog sales ratios (aliases added) ---------
TPCDS_TEXTS["tpcds_q2"] = """
WITH wscs AS
( SELECT
    sold_date_sk,
    sales_price
  FROM (SELECT
    ws_sold_date_sk sold_date_sk,
    ws_ext_sales_price sales_price
  FROM web_sales) x
  UNION ALL
  (SELECT
    cs_sold_date_sk sold_date_sk,
    cs_ext_sales_price sales_price
  FROM catalog_sales)),
    wswscs AS
  ( SELECT
    d_week_seq,
    sum(CASE WHEN (d_day_name = 'Sunday')
      THEN sales_price
        ELSE NULL END)
    sun_sales,
    sum(CASE WHEN (d_day_name = 'Monday')
      THEN sales_price
        ELSE NULL END)
    mon_sales,
    sum(CASE WHEN (d_day_name = 'Tuesday')
      THEN sales_price
        ELSE NULL END)
    tue_sales,
    sum(CASE WHEN (d_day_name = 'Wednesday')
      THEN sales_price
        ELSE NULL END)
    wed_sales,
    sum(CASE WHEN (d_day_name = 'Thursday')
      THEN sales_price
        ELSE NULL END)
    thu_sales,
    sum(CASE WHEN (d_day_name = 'Friday')
      THEN sales_price
        ELSE NULL END)
    fri_sales,
    sum(CASE WHEN (d_day_name = 'Saturday')
      THEN sales_price
        ELSE NULL END)
    sat_sales
  FROM wscs, date_dim
  WHERE d_date_sk = sold_date_sk
  GROUP BY d_week_seq)
SELECT
  d_week_seq1,
  floor(CAST(sun_sales1 AS DOUBLE) / nullif(sun_sales2, 0) * 100 + 0.5) / 100 AS sun_ratio,
  floor(CAST(mon_sales1 AS DOUBLE) / nullif(mon_sales2, 0) * 100 + 0.5) / 100 AS mon_ratio,
  floor(CAST(tue_sales1 AS DOUBLE) / nullif(tue_sales2, 0) * 100 + 0.5) / 100 AS tue_ratio,
  floor(CAST(wed_sales1 AS DOUBLE) / nullif(wed_sales2, 0) * 100 + 0.5) / 100 AS wed_ratio,
  floor(CAST(thu_sales1 AS DOUBLE) / nullif(thu_sales2, 0) * 100 + 0.5) / 100 AS thu_ratio,
  floor(CAST(fri_sales1 AS DOUBLE) / nullif(fri_sales2, 0) * 100 + 0.5) / 100 AS fri_ratio,
  floor(CAST(sat_sales1 AS DOUBLE) / nullif(sat_sales2, 0) * 100 + 0.5) / 100 AS sat_ratio
FROM
  (SELECT
    wswscs.d_week_seq d_week_seq1,
    sun_sales sun_sales1,
    mon_sales mon_sales1,
    tue_sales tue_sales1,
    wed_sales wed_sales1,
    thu_sales thu_sales1,
    fri_sales fri_sales1,
    sat_sales sat_sales1
  FROM wswscs, date_dim
  WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2001) y,
  (SELECT
    wswscs.d_week_seq d_week_seq2,
    sun_sales sun_sales2,
    mon_sales mon_sales2,
    tue_sales tue_sales2,
    wed_sales wed_sales2,
    thu_sales thu_sales2,
    fri_sales fri_sales2,
    sat_sales sat_sales2
  FROM wswscs, date_dim
  WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2001 + 1) z
WHERE d_week_seq1 = d_week_seq2 - 53
ORDER BY d_week_seq1
"""

# --- q3: brand sales in November for one manufacturer (tie-break added) --
TPCDS_TEXTS["tpcds_q3"] = """
SELECT
  dt.d_year,
  item.i_brand_id brand_id,
  item.i_brand brand,
  CAST(SUM(ss_ext_sales_price) AS BIGINT) sum_agg
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manufact_id = 128
  AND dt.d_moy = 11
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, sum_agg DESC, brand_id, brand
LIMIT 100
"""

# --- q4: three-channel year-over-year growth comparison ------------------
TPCDS_TEXTS["tpcds_q4"] = """
WITH year_total AS (
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    c_preferred_cust_flag customer_preferred_cust_flag,
    c_birth_country customer_birth_country,
    c_login customer_login,
    c_email_address customer_email_address,
    d_year dyear,
    sum(((ss_ext_list_price - ss_ext_wholesale_cost - ss_ext_discount_amt) +
      ss_ext_sales_price) / 2) year_total,
    's' sale_type
  FROM customer, store_sales, date_dim
  WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
  GROUP BY c_customer_id,
    c_first_name,
    c_last_name,
    c_preferred_cust_flag,
    c_birth_country,
    c_login,
    c_email_address,
    d_year
  UNION ALL
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    c_preferred_cust_flag customer_preferred_cust_flag,
    c_birth_country customer_birth_country,
    c_login customer_login,
    c_email_address customer_email_address,
    d_year dyear,
    sum((((cs_ext_list_price - cs_ext_wholesale_cost - cs_ext_discount_amt) +
      cs_ext_sales_price) / 2)) year_total,
    'c' sale_type
  FROM customer, catalog_sales, date_dim
  WHERE c_customer_sk = cs_bill_customer_sk AND cs_sold_date_sk = d_date_sk
  GROUP BY c_customer_id,
    c_first_name,
    c_last_name,
    c_preferred_cust_flag,
    c_birth_country,
    c_login,
    c_email_address,
    d_year
  UNION ALL
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    c_preferred_cust_flag customer_preferred_cust_flag,
    c_birth_country customer_birth_country,
    c_login customer_login,
    c_email_address customer_email_address,
    d_year dyear,
    sum((((ws_ext_list_price - ws_ext_wholesale_cost - ws_ext_discount_amt) + ws_ext_sales_price) /
      2)) year_total,
    'w' sale_type
  FROM customer, web_sales, date_dim
  WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
  GROUP BY c_customer_id,
    c_first_name,
    c_last_name,
    c_preferred_cust_flag,
    c_birth_country,
    c_login,
    c_email_address,
    d_year)
SELECT
  t_s_secyear.customer_id,
  t_s_secyear.customer_first_name,
  t_s_secyear.customer_last_name,
  t_s_secyear.customer_preferred_cust_flag,
  t_s_secyear.customer_birth_country,
  t_s_secyear.customer_login,
  t_s_secyear.customer_email_address
FROM year_total t_s_firstyear, year_total t_s_secyear, year_total t_c_firstyear,
  year_total t_c_secyear, year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2001
  AND t_s_secyear.dyear = 2001 + 1
  AND t_c_firstyear.dyear = 2001
  AND t_c_secyear.dyear = 2001 + 1
  AND t_w_firstyear.dyear = 2001
  AND t_w_secyear.dyear = 2001 + 1
  AND t_s_firstyear.year_total > 0
  AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_c_firstyear.year_total > 0
  THEN t_c_secyear.year_total / t_c_firstyear.year_total
      ELSE NULL END
  > CASE WHEN t_s_firstyear.year_total > 0
  THEN t_s_secyear.year_total / t_s_firstyear.year_total
    ELSE NULL END
  AND CASE WHEN t_c_firstyear.year_total > 0
  THEN t_c_secyear.year_total / t_c_firstyear.year_total
      ELSE NULL END
  > CASE WHEN t_w_firstyear.year_total > 0
  THEN t_w_secyear.year_total / t_w_firstyear.year_total
    ELSE NULL END
ORDER BY
  t_s_secyear.customer_id,
  t_s_secyear.customer_first_name,
  t_s_secyear.customer_last_name,
  t_s_secyear.customer_preferred_cust_flag,
  t_s_secyear.customer_birth_country,
  t_s_secyear.customer_login,
  t_s_secyear.customer_email_address
LIMIT 100
"""

# --- q5: 14-day sales+returns rollup per channel (BIGINT zeros; NULLS
#     FIRST on rollup sort keys) -----------------------------------------
TPCDS_TEXTS["tpcds_q5"] = """
WITH ssr AS
( SELECT
    s_store_id,
    sum(sales_price) AS sales,
    sum(profit) AS profit,
    sum(return_amt) AS RETURNS,
    sum(net_loss) AS profit_loss
  FROM
    (SELECT
       ss_store_sk AS store_sk,
       ss_sold_date_sk AS date_sk,
       ss_ext_sales_price AS sales_price,
       ss_net_profit AS profit,
       cast(0 AS BIGINT) AS return_amt,
       cast(0 AS BIGINT) AS net_loss
     FROM store_sales
     UNION ALL
     SELECT
       sr_store_sk AS store_sk,
       sr_returned_date_sk AS date_sk,
       cast(0 AS BIGINT) AS sales_price,
       cast(0 AS BIGINT) AS profit,
       sr_return_amt AS return_amt,
       sr_net_loss AS net_loss
     FROM store_returns)
    salesreturns, date_dim, store
  WHERE date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND ((cast('2000-08-23' AS DATE) + INTERVAL '14' DAY))
    AND store_sk = s_store_sk
  GROUP BY s_store_id),
    csr AS
  ( SELECT
    cp_catalog_page_id,
    sum(sales_price) AS sales,
    sum(profit) AS profit,
    sum(return_amt) AS RETURNS,
    sum(net_loss) AS profit_loss
  FROM
    (SELECT
       cs_catalog_page_sk AS page_sk,
       cs_sold_date_sk AS date_sk,
       cs_ext_sales_price AS sales_price,
       cs_net_profit AS profit,
       cast(0 AS BIGINT) AS return_amt,
       cast(0 AS BIGINT) AS net_loss
     FROM catalog_sales
     UNION ALL
     SELECT
       cr_catalog_page_sk AS page_sk,
       cr_returned_date_sk AS date_sk,
       cast(0 AS BIGINT) AS sales_price,
       cast(0 AS BIGINT) AS profit,
       cr_return_amount AS return_amt,
       cr_net_loss AS net_loss
     FROM catalog_returns
    ) salesreturns, date_dim, catalog_page
  WHERE date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND ((cast('2000-08-23' AS DATE) + INTERVAL '14' DAY))
    AND page_sk = cp_catalog_page_sk
  GROUP BY cp_catalog_page_id)
  ,
    wsr AS
  ( SELECT
    web_site_id,
    sum(sales_price) AS sales,
    sum(profit) AS profit,
    sum(return_amt) AS RETURNS,
    sum(net_loss) AS profit_loss
  FROM
    (SELECT
       ws_web_site_sk AS wsr_web_site_sk,
       ws_sold_date_sk AS date_sk,
       ws_ext_sales_price AS sales_price,
       ws_net_profit AS profit,
       cast(0 AS BIGINT) AS return_amt,
       cast(0 AS BIGINT) AS net_loss
     FROM web_sales
     UNION ALL
     SELECT
       ws_web_site_sk AS wsr_web_site_sk,
       wr_returned_date_sk AS date_sk,
       cast(0 AS BIGINT) AS sales_price,
       cast(0 AS BIGINT) AS profit,
       wr_return_amt AS return_amt,
       wr_net_loss AS net_loss
     FROM web_returns
       LEFT OUTER JOIN web_sales ON
                                   (wr_item_sk = ws_item_sk
                                     AND wr_order_number = ws_order_number)
    ) salesreturns, date_dim, web_site
  WHERE date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND ((cast('2000-08-23' AS DATE) + INTERVAL '14' DAY))
    AND wsr_web_site_sk = web_site_sk
  GROUP BY web_site_id)
SELECT
  channel,
  id,
  CAST(sum(sales) AS BIGINT) AS sales,
  CAST(sum(returns) AS BIGINT) AS returns,
  CAST(sum(profit) AS BIGINT) AS profit
FROM
  (SELECT
     'store channel' AS channel,
     concat('store', s_store_id) AS id,
     sales,
     returns,
     (profit - profit_loss) AS profit
   FROM ssr
   UNION ALL
   SELECT
     'catalog channel' AS channel,
     concat('catalog_page', cp_catalog_page_id) AS id,
     sales,
     returns,
     (profit - profit_loss) AS profit
   FROM csr
   UNION ALL
   SELECT
     'web channel' AS channel,
     concat('web_site', web_site_id) AS id,
     sales,
     returns,
     (profit - profit_loss) AS profit
   FROM wsr
  ) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
"""

# --- q6: states whose customers buy above-average-priced items ----------
TPCDS_TEXTS["tpcds_q6"] = """
SELECT
  a.ca_state state,
  count(*) cnt
FROM
  customer_address a, customer c, store_sales s, date_dim d, item i
WHERE a.ca_address_sk = c.c_current_addr_sk
  AND c.c_customer_sk = s.ss_customer_sk
  AND s.ss_sold_date_sk = d.d_date_sk
  AND s.ss_item_sk = i.i_item_sk
  AND d.d_month_seq =
  (SELECT DISTINCT (d_month_seq)
  FROM date_dim
  WHERE d_year = 2000 AND d_moy = 1)
  AND i.i_current_price > 1.2 *
  (SELECT avg(j.i_current_price)
  FROM item j
  WHERE j.i_category = i.i_category)
GROUP BY a.ca_state
HAVING count(*) >= 10
ORDER BY cnt, state
LIMIT 100
"""

# --- q7: demographic item averages under promotions ----------------------
TPCDS_TEXTS["tpcds_q7"] = """
SELECT
  i_item_id,
  avg(ss_quantity) agg1,
  avg(ss_list_price) agg2,
  avg(ss_coupon_amt) agg3,
  avg(ss_sales_price) agg4
FROM store_sales, customer_demographics, date_dim, item, promotion
WHERE ss_sold_date_sk = d_date_sk AND
  ss_item_sk = i_item_sk AND
  ss_cdemo_sk = cd_demo_sk AND
  ss_promo_sk = p_promo_sk AND
  cd_gender = 'M' AND
  cd_marital_status = 'S' AND
  cd_education_status = 'College' AND
  (p_channel_email = 'N' OR p_channel_event = 'N') AND
  d_year = 2000
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100
"""

# --- q8: store sales for zips with >10 preferred customers ---------------
TPCDS_TEXTS["tpcds_q8"] = """
SELECT
  s_store_name,
  CAST(sum(ss_net_profit) AS BIGINT) AS net_profit
FROM store_sales, date_dim, store,
  (SELECT ca_zip
  FROM (
         (SELECT substr(ca_zip, 1, 5) ca_zip
         FROM customer_address
         WHERE substr(ca_zip, 1, 5) IN (
               '24128','76232','65084','87816','83926','77556','20548',
               '26231','43848','15126','91137','61265','98294','25782',
               '30122','30431','30010','30469','30625','30903','31016',
               '31029','31387','31671','32213','32754','33123','33282',
               '33515','34102','34322','34425','35258','35474','35850',
               '36420','36446','36634','37125','38122','38415','38935',
               '39127','39516','39736','39972','40162','40604','41248',
               '41766','42029','45692','92712','70466','79994','22437',
               '25280','38935','71791','73134','56571','14060','19505',
               '72425','56575','74351','68786','51650','20004','18383',
               '76614','11634','18906','15765','41368','73241','76698',
               '78567','97189','28545','76231','75691','22246','51061',
               '90578','56691','68014','51103','94167','57047','14867',
               '73520','15734','63435','25733','35474','24676','94627',
               '53535','17879','15559','53268','59166','11928','59402',
               '33282','45721','43933','68101','33515','36634','71286',
               '19736','58058','55253','67473','41918','19515','36495',
               '19430','22351','77191','91393','49156','50298','87501',
               '18652','53179','18767','63193','23968','65164','68880',
               '21286','72823','58470','67301','13394','31016','70372',
               '67030','40604','24317','45748','39127','26065','77721',
               '31029','31880','60576','24671','45549','13376','50016',
               '33123','19769','22927','97789','46081','72151','15723',
               '46136','51949','68100','96888','64528','14171','79777',
               '28709','11489','25103','32213','78668','22245','15798',
               '27156','37930','62971','21337','51622','67853','10567',
               '38415','15455','58263','42029','60279','37125','56240',
               '88190','50308','26859','64457','89091','82136','62377',
               '36233','63837','58078','17043','30010','60099','28810',
               '98025','29178','87343','73273','30469','64034','39516',
               '86057','21309','90257','67875','40162','11356','73650',
               '61810','72013','30431','22461','19512','13375','55307',
               '30625','83849','68908','26689','96451','38193','46820',
               '88885','84935','69035','83144','47537','56616','94983',
               '48033','69952','25486','61547','27385','61860','58048',
               '56910','16807','17871','35258','31387','35458','35576'))
         INTERSECT
         (SELECT ca_zip
         FROM
           (SELECT
             substr(ca_zip, 1, 5) ca_zip,
             count(*) cnt
           FROM customer_address, customer
           WHERE ca_address_sk = c_current_addr_sk AND
             c_preferred_cust_flag = 'Y'
           GROUP BY ca_zip
           HAVING count(*) > 10) A1)
       ) A2
  ) V1
WHERE ss_store_sk = s_store_sk
  AND ss_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 1998
  AND (substr(s_zip, 1, 2) = substr(V1.ca_zip, 1, 2))
GROUP BY s_store_name
ORDER BY s_store_name
LIMIT 100
"""

# --- q9: quantity-bucket conditional averages ----------------------------
TPCDS_TEXTS["tpcds_q9"] = """
SELECT
  CASE WHEN (SELECT count(*)
  FROM store_sales
  WHERE ss_quantity BETWEEN 1 AND 20) > 62316685
    THEN (SELECT avg(ss_ext_discount_amt)
    FROM store_sales
    WHERE ss_quantity BETWEEN 1 AND 20)
  ELSE (SELECT avg(ss_net_paid)
  FROM store_sales
  WHERE ss_quantity BETWEEN 1 AND 20) END bucket1,
  CASE WHEN (SELECT count(*)
  FROM store_sales
  WHERE ss_quantity BETWEEN 21 AND 40) > 19045798
    THEN (SELECT avg(ss_ext_discount_amt)
    FROM store_sales
    WHERE ss_quantity BETWEEN 21 AND 40)
  ELSE (SELECT avg(ss_net_paid)
  FROM store_sales
  WHERE ss_quantity BETWEEN 21 AND 40) END bucket2,
  CASE WHEN (SELECT count(*)
  FROM store_sales
  WHERE ss_quantity BETWEEN 41 AND 60) > 365541424
    THEN (SELECT avg(ss_ext_discount_amt)
    FROM store_sales
    WHERE ss_quantity BETWEEN 41 AND 60)
  ELSE (SELECT avg(ss_net_paid)
  FROM store_sales
  WHERE ss_quantity BETWEEN 41 AND 60) END bucket3,
  CASE WHEN (SELECT count(*)
  FROM store_sales
  WHERE ss_quantity BETWEEN 61 AND 80) > 216357808
    THEN (SELECT avg(ss_ext_discount_amt)
    FROM store_sales
    WHERE ss_quantity BETWEEN 61 AND 80)
  ELSE (SELECT avg(ss_net_paid)
  FROM store_sales
  WHERE ss_quantity BETWEEN 61 AND 80) END bucket4,
  CASE WHEN (SELECT count(*)
  FROM store_sales
  WHERE ss_quantity BETWEEN 81 AND 100) > 184483884
    THEN (SELECT avg(ss_ext_discount_amt)
    FROM store_sales
    WHERE ss_quantity BETWEEN 81 AND 100)
  ELSE (SELECT avg(ss_net_paid)
  FROM store_sales
  WHERE ss_quantity BETWEEN 81 AND 100) END bucket5
FROM reason
WHERE r_reason_sk = 1
"""

# --- q10: county demographics of multi-channel active customers ----------
TPCDS_TEXTS["tpcds_q10"] = """
SELECT
  cd_gender,
  cd_marital_status,
  cd_education_status,
  count(*) cnt1,
  cd_purchase_estimate,
  count(*) cnt2,
  cd_credit_rating,
  count(*) cnt3,
  cd_dep_count,
  count(*) cnt4,
  cd_dep_employed_count,
  count(*) cnt5,
  cd_dep_college_count,
  count(*) cnt6
FROM
  customer c, customer_address ca, customer_demographics
WHERE
  c.c_current_addr_sk = ca.ca_address_sk AND
    ca_county IN ('Rush County', 'Toole County', 'Jefferson County',
                  'Dona Ana County', 'La Porte County') AND
    cd_demo_sk = c.c_current_cdemo_sk AND
    exists(SELECT *
           FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk AND
             ss_sold_date_sk = d_date_sk AND
             d_year = 2002 AND
             d_moy BETWEEN 1 AND 1 + 3) AND
    (exists(SELECT *
            FROM web_sales, date_dim
            WHERE c.c_customer_sk = ws_bill_customer_sk AND
              ws_sold_date_sk = d_date_sk AND
              d_year = 2002 AND
              d_moy BETWEEN 1 AND 1 + 3) OR
      exists(SELECT *
             FROM catalog_sales, date_dim
             WHERE c.c_customer_sk = cs_ship_customer_sk AND
               cs_sold_date_sk = d_date_sk AND
               d_year = 2002 AND
               d_moy BETWEEN 1 AND 1 + 3))
GROUP BY cd_gender,
  cd_marital_status,
  cd_education_status,
  cd_purchase_estimate,
  cd_credit_rating,
  cd_dep_count,
  cd_dep_employed_count,
  cd_dep_college_count
ORDER BY cd_gender,
  cd_marital_status,
  cd_education_status,
  cd_purchase_estimate,
  cd_credit_rating,
  cd_dep_count,
  cd_dep_employed_count,
  cd_dep_college_count
LIMIT 100
"""


# --- q11: store-vs-web year-over-year growth -----------------------------
TPCDS_TEXTS["tpcds_q11"] = """
WITH year_total AS (
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    c_preferred_cust_flag customer_preferred_cust_flag,
    c_birth_country customer_birth_country,
    c_login customer_login,
    c_email_address customer_email_address,
    d_year dyear,
    sum(ss_ext_list_price - ss_ext_discount_amt) year_total,
    's' sale_type
  FROM customer, store_sales, date_dim
  WHERE c_customer_sk = ss_customer_sk
    AND ss_sold_date_sk = d_date_sk
  GROUP BY c_customer_id
    , c_first_name
    , c_last_name
    , d_year
    , c_preferred_cust_flag
    , c_birth_country
    , c_login
    , c_email_address
    , d_year
  UNION ALL
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    c_preferred_cust_flag customer_preferred_cust_flag,
    c_birth_country customer_birth_country,
    c_login customer_login,
    c_email_address customer_email_address,
    d_year dyear,
    sum(ws_ext_list_price - ws_ext_discount_amt) year_total,
    'w' sale_type
  FROM customer, web_sales, date_dim
  WHERE c_customer_sk = ws_bill_customer_sk
    AND ws_sold_date_sk = d_date_sk
  GROUP BY
    c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, c_birth_country,
    c_login, c_email_address, d_year)
SELECT t_s_secyear.customer_preferred_cust_flag
FROM year_total t_s_firstyear
  , year_total t_s_secyear
  , year_total t_w_firstyear
  , year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 2001
  AND t_s_secyear.dyear = 2001 + 1
  AND t_w_firstyear.dyear = 2001
  AND t_w_secyear.dyear = 2001 + 1
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
  THEN t_w_secyear.year_total / t_w_firstyear.year_total
      ELSE NULL END
  > CASE WHEN t_s_firstyear.year_total > 0
  THEN t_s_secyear.year_total / t_s_firstyear.year_total
    ELSE NULL END
ORDER BY t_s_secyear.customer_preferred_cust_flag
LIMIT 100
"""

# --- q12: web revenue share within class over 30 days --------------------
TPCDS_TEXTS["tpcds_q12"] = """
SELECT
  i_item_desc,
  i_category,
  i_class,
  i_current_price,
  CAST(sum(ws_ext_sales_price) AS BIGINT) AS itemrevenue,
  CAST(sum(ws_ext_sales_price) * 100 AS DOUBLE) / nullif(sum(sum(ws_ext_sales_price))
  OVER
  (PARTITION BY i_class), 0) AS revenueratio
FROM
  web_sales, item, date_dim
WHERE
  ws_item_sk = i_item_sk
    AND i_category IN ('Sports', 'Books', 'Home')
    AND ws_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('1999-02-22' AS DATE)
  AND (cast('1999-02-22' AS DATE) + INTERVAL '30' DAY)
GROUP BY
  i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY
  i_category, i_class, i_item_id, i_item_desc, revenueratio
LIMIT 100
"""

# --- q13: OR-of-ANDs demographic/address bands (aliases added) -----------
TPCDS_TEXTS["tpcds_q13"] = """
SELECT
  avg(ss_quantity) AS avg_quantity,
  avg(ss_ext_sales_price) AS avg_ext_sales_price,
  avg(ss_ext_wholesale_cost) AS avg_ext_wholesale_cost,
  CAST(sum(ss_ext_wholesale_cost) AS BIGINT) AS sum_ext_wholesale_cost
FROM store_sales
  , store
  , customer_demographics
  , household_demographics
  , customer_address
  , date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk AND d_year = 2001
  AND ((ss_hdemo_sk = hd_demo_sk
  AND cd_demo_sk = ss_cdemo_sk
  AND cd_marital_status = 'M'
  AND cd_education_status = 'Advanced Degree'
  AND ss_sales_price BETWEEN 100.00 AND 150.00
  AND hd_dep_count = 3
) OR
  (ss_hdemo_sk = hd_demo_sk
    AND cd_demo_sk = ss_cdemo_sk
    AND cd_marital_status = 'S'
    AND cd_education_status = 'College'
    AND ss_sales_price BETWEEN 50.00 AND 100.00
    AND hd_dep_count = 1
  ) OR
  (ss_hdemo_sk = hd_demo_sk
    AND cd_demo_sk = ss_cdemo_sk
    AND cd_marital_status = 'W'
    AND cd_education_status = '2 yr Degree'
    AND ss_sales_price BETWEEN 150.00 AND 200.00
    AND hd_dep_count = 1
  ))
  AND ((ss_addr_sk = ca_address_sk
  AND ca_country = 'United States'
  AND ca_state IN ('TX', 'OH', 'TX')
  AND ss_net_profit BETWEEN 100 AND 200
) OR
  (ss_addr_sk = ca_address_sk
    AND ca_country = 'United States'
    AND ca_state IN ('OR', 'NM', 'KY')
    AND ss_net_profit BETWEEN 150 AND 300
  ) OR
  (ss_addr_sk = ca_address_sk
    AND ca_country = 'United States'
    AND ca_state IN ('VA', 'TX', 'MS')
    AND ss_net_profit BETWEEN 50 AND 250
  ))
"""

# --- q14: cross-channel common items vs average sales (rollup) -----------
TPCDS_TEXTS["tpcds_q14"] = """
WITH cross_items AS
(SELECT i_item_sk ss_item_sk
  FROM item,
    (SELECT
      iss.i_brand_id brand_id,
      iss.i_class_id class_id,
      iss.i_category_id category_id
    FROM store_sales, item iss, date_dim d1
    WHERE ss_item_sk = iss.i_item_sk
      AND ss_sold_date_sk = d1.d_date_sk
      AND d1.d_year BETWEEN 1999 AND 1999 + 2
    INTERSECT
    SELECT
      ics.i_brand_id,
      ics.i_class_id,
      ics.i_category_id
    FROM catalog_sales, item ics, date_dim d2
    WHERE cs_item_sk = ics.i_item_sk
      AND cs_sold_date_sk = d2.d_date_sk
      AND d2.d_year BETWEEN 1999 AND 1999 + 2
    INTERSECT
    SELECT
      iws.i_brand_id,
      iws.i_class_id,
      iws.i_category_id
    FROM web_sales, item iws, date_dim d3
    WHERE ws_item_sk = iws.i_item_sk
      AND ws_sold_date_sk = d3.d_date_sk
      AND d3.d_year BETWEEN 1999 AND 1999 + 2) x
  WHERE i_brand_id = brand_id
    AND i_class_id = class_id
    AND i_category_id = category_id
),
    avg_sales AS
  (SELECT avg(quantity * list_price) average_sales
  FROM (
         SELECT
           ss_quantity quantity,
           ss_list_price list_price
         FROM store_sales, date_dim
         WHERE ss_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 2001
         UNION ALL
         SELECT
           cs_quantity quantity,
           cs_list_price list_price
         FROM catalog_sales, date_dim
         WHERE cs_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 1999 + 2
         UNION ALL
         SELECT
           ws_quantity quantity,
           ws_list_price list_price
         FROM web_sales, date_dim
         WHERE ws_sold_date_sk = d_date_sk
           AND d_year BETWEEN 1999 AND 1999 + 2) x)
SELECT
  channel,
  i_brand_id,
  i_class_id,
  i_category_id,
  CAST(sum(sales) AS BIGINT) AS sum_sales,
  CAST(sum(number_sales) AS BIGINT) AS sum_number_sales
FROM (
       SELECT
         'store' channel,
         i_brand_id,
         i_class_id,
         i_category_id,
         sum(ss_quantity * ss_list_price) sales,
         count(*) number_sales
       FROM store_sales, item, date_dim
       WHERE ss_item_sk IN (SELECT ss_item_sk
       FROM cross_items)
         AND ss_item_sk = i_item_sk
         AND ss_sold_date_sk = d_date_sk
         AND d_year = 1999 + 2
         AND d_moy = 11
       GROUP BY i_brand_id, i_class_id, i_category_id
       HAVING sum(ss_quantity * ss_list_price) > (SELECT average_sales
       FROM avg_sales)
       UNION ALL
       SELECT
         'catalog' channel,
         i_brand_id,
         i_class_id,
         i_category_id,
         sum(cs_quantity * cs_list_price) sales,
         count(*) number_sales
       FROM catalog_sales, item, date_dim
       WHERE cs_item_sk IN (SELECT ss_item_sk
       FROM cross_items)
         AND cs_item_sk = i_item_sk
         AND cs_sold_date_sk = d_date_sk
         AND d_year = 1999 + 2
         AND d_moy = 11
       GROUP BY i_brand_id, i_class_id, i_category_id
       HAVING sum(cs_quantity * cs_list_price) > (SELECT average_sales FROM avg_sales)
       UNION ALL
       SELECT
         'web' channel,
         i_brand_id,
         i_class_id,
         i_category_id,
         sum(ws_quantity * ws_list_price) sales,
         count(*) number_sales
       FROM web_sales, item, date_dim
       WHERE ws_item_sk IN (SELECT ss_item_sk
       FROM cross_items)
         AND ws_item_sk = i_item_sk
         AND ws_sold_date_sk = d_date_sk
         AND d_year = 1999 + 2
         AND d_moy = 11
       GROUP BY i_brand_id, i_class_id, i_category_id
       HAVING sum(ws_quantity * ws_list_price) > (SELECT average_sales
       FROM avg_sales)
     ) y
GROUP BY ROLLUP (channel, i_brand_id, i_class_id, i_category_id)
ORDER BY channel NULLS FIRST, i_brand_id NULLS FIRST, i_class_id NULLS FIRST,
  i_category_id NULLS FIRST
LIMIT 100
"""

# --- q15: catalog sales by zip in Q2 2001 --------------------------------
TPCDS_TEXTS["tpcds_q15"] = """
SELECT
  ca_zip,
  CAST(sum(cs_sales_price) AS BIGINT) AS sum_sales_price
FROM catalog_sales, customer, customer_address, date_dim
WHERE cs_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND (substr(ca_zip, 1, 5) IN ('85669', '86197', '88274', '83405', '86475',
                                '85392', '85460', '80348', '81792')
  OR ca_state IN ('CA', 'WA', 'GA')
  OR cs_sales_price > 500)
  AND cs_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip
ORDER BY ca_zip
LIMIT 100
"""

# --- q16: shipped-from-multiple-warehouses, never-returned orders --------
TPCDS_TEXTS["tpcds_q16"] = """
SELECT
  count(DISTINCT cs_order_number) AS order_count,
  CAST(sum(cs_ext_ship_cost) AS BIGINT) AS total_shipping_cost,
  CAST(sum(cs_net_profit) AS BIGINT) AS total_net_profit
FROM
  catalog_sales cs1, date_dim, customer_address, call_center
WHERE
  d_date BETWEEN (CAST('2002-02-01' AS DATE)) AND (CAST('2002-02-01' AS DATE) + INTERVAL '60' DAY)
    AND cs1.cs_ship_date_sk = d_date_sk
    AND cs1.cs_ship_addr_sk = ca_address_sk
    AND ca_state = 'GA'
    AND cs1.cs_call_center_sk = cc_call_center_sk
    AND cc_county IN
    ('Williamson County', 'Williamson County', 'Williamson County', 'Williamson County', 'Williamson County')
    AND EXISTS(SELECT *
               FROM catalog_sales cs2
               WHERE cs1.cs_order_number = cs2.cs_order_number
                 AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
    AND NOT EXISTS(SELECT *
                   FROM catalog_returns cr1
                   WHERE cs1.cs_order_number = cr1.cr_order_number)
ORDER BY count(DISTINCT cs_order_number)
LIMIT 100
"""

# --- q17: quantity statistics across sale/return/re-purchase -------------
TPCDS_TEXTS["tpcds_q17"] = """
SELECT
  i_item_id,
  i_item_desc,
  s_state,
  count(ss_quantity) AS store_sales_quantitycount,
  avg(ss_quantity) AS store_sales_quantityave,
  stddev_samp(ss_quantity) AS store_sales_quantitystdev,
  stddev_samp(ss_quantity) / avg(ss_quantity) AS store_sales_quantitycov,
  count(sr_return_quantity) as_store_returns_quantitycount,
  avg(sr_return_quantity) as_store_returns_quantityave,
  stddev_samp(sr_return_quantity) as_store_returns_quantitystdev,
  stddev_samp(sr_return_quantity) / avg(sr_return_quantity) AS store_returns_quantitycov,
  count(cs_quantity) AS catalog_sales_quantitycount,
  avg(cs_quantity) AS catalog_sales_quantityave,
  stddev_samp(cs_quantity) / avg(cs_quantity) AS catalog_sales_quantitystdev,
  stddev_samp(cs_quantity) / avg(cs_quantity) AS catalog_sales_quantitycov
FROM store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2, date_dim d3, store, item
WHERE d1.d_quarter_name = '2001Q1'
  AND d1.d_date_sk = ss_sold_date_sk
  AND i_item_sk = ss_item_sk
  AND s_store_sk = ss_store_sk
  AND ss_customer_sk = sr_customer_sk
  AND ss_item_sk = sr_item_sk
  AND ss_ticket_number = sr_ticket_number
  AND sr_returned_date_sk = d2.d_date_sk
  AND d2.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
  AND sr_customer_sk = cs_bill_customer_sk
  AND sr_item_sk = cs_item_sk
  AND cs_sold_date_sk = d3.d_date_sk
  AND d3.d_quarter_name IN ('2001Q1', '2001Q2', '2001Q3')
GROUP BY i_item_id, i_item_desc, s_state
ORDER BY i_item_id, i_item_desc, s_state
LIMIT 100
"""

# --- q18: demographic catalog averages with rollup (DOUBLE casts) --------
TPCDS_TEXTS["tpcds_q18"] = """
SELECT
  i_item_id,
  ca_country,
  ca_state,
  ca_county,
  avg(cast(cs_quantity AS DOUBLE)) agg1,
  avg(cast(cs_list_price AS DOUBLE)) agg2,
  avg(cast(cs_coupon_amt AS DOUBLE)) agg3,
  avg(cast(cs_sales_price AS DOUBLE)) agg4,
  avg(cast(cs_net_profit AS DOUBLE)) agg5,
  avg(cast(c_birth_year AS DOUBLE)) agg6,
  avg(cast(cd1.cd_dep_count AS DOUBLE)) agg7
FROM catalog_sales, customer_demographics cd1,
  customer_demographics cd2, customer, customer_address, date_dim, item
WHERE cs_sold_date_sk = d_date_sk AND
  cs_item_sk = i_item_sk AND
  cs_bill_cdemo_sk = cd1.cd_demo_sk AND
  cs_bill_customer_sk = c_customer_sk AND
  cd1.cd_gender = 'F' AND
  cd1.cd_education_status = 'Unknown' AND
  c_current_cdemo_sk = cd2.cd_demo_sk AND
  c_current_addr_sk = ca_address_sk AND
  c_birth_month IN (1, 6, 8, 9, 12, 2) AND
  d_year = 1998 AND
  ca_state IN ('MS', 'IN', 'ND', 'OK', 'NM', 'VA', 'MS')
GROUP BY ROLLUP (i_item_id, ca_country, ca_state, ca_county)
ORDER BY ca_country NULLS FIRST, ca_state NULLS FIRST, ca_county NULLS FIRST,
  i_item_id NULLS FIRST
LIMIT 100
"""

# --- q19: brand revenue where customer and store zips differ -------------
TPCDS_TEXTS["tpcds_q19"] = """
SELECT
  i_brand_id brand_id,
  i_brand brand,
  i_manufact_id,
  i_manufact,
  CAST(sum(ss_ext_sales_price) AS BIGINT) ext_price
FROM date_dim, store_sales, item, customer, customer_address, store
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 8
  AND d_moy = 11
  AND d_year = 1998
  AND ss_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND substr(ca_zip, 1, 5) <> substr(s_zip, 1, 5)
  AND ss_store_sk = s_store_sk
GROUP BY i_brand, i_brand_id, i_manufact_id, i_manufact
ORDER BY ext_price DESC, brand, brand_id, i_manufact_id, i_manufact
LIMIT 100
"""

# --- q20: catalog revenue share within class over 30 days ----------------
TPCDS_TEXTS["tpcds_q20"] = """
SELECT
  i_item_desc,
  i_category,
  i_class,
  i_current_price,
  CAST(sum(cs_ext_sales_price) AS BIGINT) AS itemrevenue,
  CAST(sum(cs_ext_sales_price) * 100 AS DOUBLE) / nullif(sum(sum(cs_ext_sales_price))
  OVER
  (PARTITION BY i_class), 0) AS revenueratio
FROM catalog_sales, item, date_dim
WHERE cs_item_sk = i_item_sk
  AND i_category IN ('Sports', 'Books', 'Home')
  AND cs_sold_date_sk = d_date_sk
  AND d_date BETWEEN cast('1999-02-22' AS DATE)
AND (cast('1999-02-22' AS DATE) + INTERVAL '30' DAY)
GROUP BY i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY i_category, i_class, i_item_id, i_item_desc, revenueratio
LIMIT 100
"""


# --- q21: inventory before/after a fixed date ----------------------------
TPCDS_TEXTS["tpcds_q21"] = """
SELECT *
FROM (
       SELECT
         w_warehouse_name,
         i_item_id,
         CAST(sum(CASE WHEN (cast(d_date AS DATE) < cast('2000-03-11' AS DATE))
           THEN inv_quantity_on_hand
             ELSE 0 END) AS BIGINT) AS inv_before,
         CAST(sum(CASE WHEN (cast(d_date AS DATE) >= cast('2000-03-11' AS DATE))
           THEN inv_quantity_on_hand
             ELSE 0 END) AS BIGINT) AS inv_after
       FROM inventory, warehouse, item, date_dim
       WHERE i_current_price BETWEEN 0.99 AND 1.49
         AND i_item_sk = inv_item_sk
         AND inv_warehouse_sk = w_warehouse_sk
         AND inv_date_sk = d_date_sk
         AND d_date BETWEEN (cast('2000-03-11' AS DATE) - INTERVAL '30' DAY)
       AND (cast('2000-03-11' AS DATE) + INTERVAL '30' DAY)
       GROUP BY w_warehouse_name, i_item_id) x
WHERE (CASE WHEN inv_before > 0
  THEN inv_after / inv_before
       ELSE NULL
       END) BETWEEN 2.0 / 3.0 AND 3.0 / 2.0
ORDER BY w_warehouse_name, i_item_id
LIMIT 100
"""

# --- q22: average quantity on hand, 4-level rollup -----------------------
TPCDS_TEXTS["tpcds_q22"] = """
SELECT
  i_product_name,
  i_brand,
  i_class,
  i_category,
  avg(inv_quantity_on_hand) qoh
FROM inventory, date_dim, item, warehouse
WHERE inv_date_sk = d_date_sk
  AND inv_item_sk = i_item_sk
  AND inv_warehouse_sk = w_warehouse_sk
  AND d_month_seq BETWEEN 1200 AND 1200 + 11
GROUP BY ROLLUP (i_product_name, i_brand, i_class, i_category)
ORDER BY qoh, i_product_name NULLS FIRST, i_brand NULLS FIRST,
  i_class NULLS FIRST, i_category NULLS FIRST
LIMIT 100
"""

# --- q23: best store customers buying frequent items off-channel ---------
TPCDS_TEXTS["tpcds_q23"] = """
WITH frequent_ss_items AS
(SELECT
    substr(i_item_desc, 1, 30) itemdesc,
    i_item_sk item_sk,
    d_date solddate,
    count(*) cnt
  FROM store_sales, date_dim, item
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_item_sk = i_item_sk
    AND d_year IN (2000, 2000 + 1, 2000 + 2, 2000 + 3)
  GROUP BY substr(i_item_desc, 1, 30), i_item_sk, d_date
  HAVING count(*) > 4),
    max_store_sales AS
  (SELECT max(csales) tpcds_cmax
  FROM (SELECT
    c_customer_sk,
    sum(ss_quantity * ss_sales_price) csales
  FROM store_sales, customer, date_dim
  WHERE ss_customer_sk = c_customer_sk
    AND ss_sold_date_sk = d_date_sk
    AND d_year IN (2000, 2000 + 1, 2000 + 2, 2000 + 3)
  GROUP BY c_customer_sk) x),
    best_ss_customer AS
  (SELECT
    c_customer_sk,
    sum(ss_quantity * ss_sales_price) ssales
  FROM store_sales, customer
  WHERE ss_customer_sk = c_customer_sk
  GROUP BY c_customer_sk
  HAVING sum(ss_quantity * ss_sales_price) > (50 / 100.0) *
    (SELECT *
    FROM max_store_sales))
SELECT CAST(sum(sales) AS BIGINT) AS sum_sales
FROM ((SELECT cs_quantity * cs_list_price sales
FROM catalog_sales, date_dim
WHERE d_year = 2000
  AND d_moy = 2
  AND cs_sold_date_sk = d_date_sk
  AND cs_item_sk IN (SELECT item_sk
FROM frequent_ss_items)
  AND cs_bill_customer_sk IN (SELECT c_customer_sk
FROM best_ss_customer))
      UNION ALL
      (SELECT ws_quantity * ws_list_price sales
      FROM web_sales, date_dim
      WHERE d_year = 2000
        AND d_moy = 2
        AND ws_sold_date_sk = d_date_sk
        AND ws_item_sk IN (SELECT item_sk
      FROM frequent_ss_items)
        AND ws_bill_customer_sk IN (SELECT c_customer_sk
      FROM best_ss_customer))) y
LIMIT 100
"""

# --- q24: pale-item net paid by returning customers at matching zips -----
TPCDS_TEXTS["tpcds_q24"] = """
WITH ssales AS
(SELECT
    c_last_name,
    c_first_name,
    s_store_name,
    ca_state,
    s_state,
    i_color,
    i_current_price,
    i_manager_id,
    i_units,
    i_size,
    sum(ss_net_paid) netpaid
  FROM store_sales, store_returns, store, item, customer, customer_address
  WHERE ss_ticket_number = sr_ticket_number
    AND ss_item_sk = sr_item_sk
    AND ss_customer_sk = c_customer_sk
    AND ss_item_sk = i_item_sk
    AND ss_store_sk = s_store_sk
    AND c_birth_country = upper(ca_country)
    AND s_zip = ca_zip
    AND s_market_id = 8
  GROUP BY c_last_name, c_first_name, s_store_name, ca_state, s_state, i_color,
    i_current_price, i_manager_id, i_units, i_size)
SELECT
  c_last_name,
  c_first_name,
  s_store_name,
  CAST(sum(netpaid) AS BIGINT) paid
FROM ssales
WHERE i_color = 'pale'
GROUP BY c_last_name, c_first_name, s_store_name
HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid)
FROM ssales)
"""

# --- q25: profit across sale, return, and catalog re-purchase ------------
TPCDS_TEXTS["tpcds_q25"] = """
SELECT
  i_item_id,
  i_item_desc,
  s_store_id,
  s_store_name,
  CAST(sum(ss_net_profit) AS BIGINT) AS store_sales_profit,
  CAST(sum(sr_net_loss) AS BIGINT) AS store_returns_loss,
  CAST(sum(cs_net_profit) AS BIGINT) AS catalog_sales_profit
FROM
  store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2, date_dim d3,
  store, item
WHERE
  d1.d_moy = 4
    AND d1.d_year = 2001
    AND d1.d_date_sk = ss_sold_date_sk
    AND i_item_sk = ss_item_sk
    AND s_store_sk = ss_store_sk
    AND ss_customer_sk = sr_customer_sk
    AND ss_item_sk = sr_item_sk
    AND ss_ticket_number = sr_ticket_number
    AND sr_returned_date_sk = d2.d_date_sk
    AND d2.d_moy BETWEEN 4 AND 10
    AND d2.d_year = 2001
    AND sr_customer_sk = cs_bill_customer_sk
    AND sr_item_sk = cs_item_sk
    AND cs_sold_date_sk = d3.d_date_sk
    AND d3.d_moy BETWEEN 4 AND 10
    AND d3.d_year = 2001
GROUP BY
  i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY
  i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""


# --- q26: demographic catalog item averages under promotions -------------
TPCDS_TEXTS["tpcds_q26"] = """
SELECT
  i_item_id,
  avg(cs_quantity) agg1,
  avg(cs_list_price) agg2,
  avg(cs_coupon_amt) agg3,
  avg(cs_sales_price) agg4
FROM catalog_sales, customer_demographics, date_dim, item, promotion
WHERE cs_sold_date_sk = d_date_sk AND
  cs_item_sk = i_item_sk AND
  cs_bill_cdemo_sk = cd_demo_sk AND
  cs_promo_sk = p_promo_sk AND
  cd_gender = 'M' AND
  cd_marital_status = 'S' AND
  cd_education_status = 'College' AND
  (p_channel_email = 'N' OR p_channel_event = 'N') AND
  d_year = 2000
GROUP BY i_item_id
ORDER BY i_item_id
LIMIT 100
"""

# --- q27: store item averages with grouping() over rollup ----------------
TPCDS_TEXTS["tpcds_q27"] = """
SELECT
  i_item_id,
  s_state,
  grouping(s_state) g_state,
  avg(ss_quantity) agg1,
  avg(ss_list_price) agg2,
  avg(ss_coupon_amt) agg3,
  avg(ss_sales_price) agg4
FROM store_sales, customer_demographics, date_dim, store, item
WHERE ss_sold_date_sk = d_date_sk AND
  ss_item_sk = i_item_sk AND
  ss_store_sk = s_store_sk AND
  ss_cdemo_sk = cd_demo_sk AND
  cd_gender = 'M' AND
  cd_marital_status = 'S' AND
  cd_education_status = 'College' AND
  d_year = 2002 AND
  s_state IN ('TN', 'TN', 'TN', 'TN', 'TN', 'TN')
GROUP BY ROLLUP (i_item_id, s_state)
ORDER BY i_item_id NULLS FIRST, s_state NULLS FIRST
LIMIT 100
"""

# --- q28: six quantity-band list-price buckets ---------------------------
TPCDS_TEXTS["tpcds_q28"] = """
SELECT *
FROM (SELECT
  avg(ss_list_price) B1_LP,
  count(ss_list_price) B1_CNT,
  count(DISTINCT ss_list_price) B1_CNTD
FROM store_sales
WHERE ss_quantity BETWEEN 0 AND 5
  AND (ss_list_price BETWEEN 8 AND 8 + 10
  OR ss_coupon_amt BETWEEN 459 AND 459 + 1000
  OR ss_wholesale_cost BETWEEN 57 AND 57 + 20)) B1,
  (SELECT
    avg(ss_list_price) B2_LP,
    count(ss_list_price) B2_CNT,
    count(DISTINCT ss_list_price) B2_CNTD
  FROM store_sales
  WHERE ss_quantity BETWEEN 6 AND 10
    AND (ss_list_price BETWEEN 90 AND 90 + 10
    OR ss_coupon_amt BETWEEN 2323 AND 2323 + 1000
    OR ss_wholesale_cost BETWEEN 31 AND 31 + 20)) B2,
  (SELECT
    avg(ss_list_price) B3_LP,
    count(ss_list_price) B3_CNT,
    count(DISTINCT ss_list_price) B3_CNTD
  FROM store_sales
  WHERE ss_quantity BETWEEN 11 AND 15
    AND (ss_list_price BETWEEN 142 AND 142 + 10
    OR ss_coupon_amt BETWEEN 12214 AND 12214 + 1000
    OR ss_wholesale_cost BETWEEN 79 AND 79 + 20)) B3,
  (SELECT
    avg(ss_list_price) B4_LP,
    count(ss_list_price) B4_CNT,
    count(DISTINCT ss_list_price) B4_CNTD
  FROM store_sales
  WHERE ss_quantity BETWEEN 16 AND 20
    AND (ss_list_price BETWEEN 135 AND 135 + 10
    OR ss_coupon_amt BETWEEN 6071 AND 6071 + 1000
    OR ss_wholesale_cost BETWEEN 38 AND 38 + 20)) B4,
  (SELECT
    avg(ss_list_price) B5_LP,
    count(ss_list_price) B5_CNT,
    count(DISTINCT ss_list_price) B5_CNTD
  FROM store_sales
  WHERE ss_quantity BETWEEN 21 AND 25
    AND (ss_list_price BETWEEN 122 AND 122 + 10
    OR ss_coupon_amt BETWEEN 836 AND 836 + 1000
    OR ss_wholesale_cost BETWEEN 17 AND 17 + 20)) B5,
  (SELECT
    avg(ss_list_price) B6_LP,
    count(ss_list_price) B6_CNT,
    count(DISTINCT ss_list_price) B6_CNTD
  FROM store_sales
  WHERE ss_quantity BETWEEN 26 AND 30
    AND (ss_list_price BETWEEN 154 AND 154 + 10
    OR ss_coupon_amt BETWEEN 7326 AND 7326 + 1000
    OR ss_wholesale_cost BETWEEN 7 AND 7 + 20)) B6
LIMIT 100
"""

# --- q29: quantities across sale, return, and catalog re-purchase --------
TPCDS_TEXTS["tpcds_q29"] = """
SELECT
  i_item_id,
  i_item_desc,
  s_store_id,
  s_store_name,
  CAST(sum(ss_quantity) AS BIGINT) AS store_sales_quantity,
  CAST(sum(sr_return_quantity) AS BIGINT) AS store_returns_quantity,
  CAST(sum(cs_quantity) AS BIGINT) AS catalog_sales_quantity
FROM
  store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
  date_dim d3, store, item
WHERE
  d1.d_moy = 9
    AND d1.d_year = 1999
    AND d1.d_date_sk = ss_sold_date_sk
    AND i_item_sk = ss_item_sk
    AND s_store_sk = ss_store_sk
    AND ss_customer_sk = sr_customer_sk
    AND ss_item_sk = sr_item_sk
    AND ss_ticket_number = sr_ticket_number
    AND sr_returned_date_sk = d2.d_date_sk
    AND d2.d_moy BETWEEN 9 AND 9 + 3
    AND d2.d_year = 1999
    AND sr_customer_sk = cs_bill_customer_sk
    AND sr_item_sk = cs_item_sk
    AND cs_sold_date_sk = d3.d_date_sk
    AND d3.d_year IN (1999, 1999 + 1, 1999 + 2)
GROUP BY
  i_item_id, i_item_desc, s_store_id, s_store_name
ORDER BY
  i_item_id, i_item_desc, s_store_id, s_store_name
LIMIT 100
"""

# --- q30: web returners above 1.2x their state's average -----------------
TPCDS_TEXTS["tpcds_q30"] = """
WITH customer_total_return AS
(SELECT
    wr_returning_customer_sk AS ctr_customer_sk,
    ca_state AS ctr_state,
    CAST(sum(wr_return_amt) AS BIGINT) AS ctr_total_return
  FROM web_returns, date_dim, customer_address
  WHERE wr_returned_date_sk = d_date_sk
    AND d_year = 2002
    AND wr_returning_addr_sk = ca_address_sk
  GROUP BY wr_returning_customer_sk, ca_state)
SELECT
  c_customer_id,
  c_salutation,
  c_first_name,
  c_last_name,
  c_preferred_cust_flag,
  c_birth_day,
  c_birth_month,
  c_birth_year,
  c_birth_country,
  c_login,
  c_email_address,
  c_last_review_date,
  ctr_total_return
FROM customer_total_return ctr1, customer_address, customer
WHERE ctr1.ctr_total_return > (SELECT avg(ctr_total_return) * 1.2
FROM customer_total_return ctr2
WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'GA'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name, c_preferred_cust_flag
  , c_birth_day, c_birth_month, c_birth_year, c_birth_country, c_login, c_email_address
  , c_last_review_date, ctr_total_return
LIMIT 100
"""


# --- q31: county quarter-over-quarter web vs store growth ----------------
TPCDS_TEXTS["tpcds_q31"] = """
WITH ss AS
(SELECT
    ca_county,
    d_qoy,
    d_year,
    sum(ss_ext_sales_price) AS store_sales
  FROM store_sales, date_dim, customer_address
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_addr_sk = ca_address_sk
  GROUP BY ca_county, d_qoy, d_year),
    ws AS
  (SELECT
    ca_county,
    d_qoy,
    d_year,
    sum(ws_ext_sales_price) AS web_sales
  FROM web_sales, date_dim, customer_address
  WHERE ws_sold_date_sk = d_date_sk
    AND ws_bill_addr_sk = ca_address_sk
  GROUP BY ca_county, d_qoy, d_year)
SELECT
  ss1.ca_county,
  ss1.d_year,
  CAST(ws2.web_sales AS DOUBLE) / nullif(ws1.web_sales, 0) web_q1_q2_increase,
  CAST(ss2.store_sales AS DOUBLE) / nullif(ss1.store_sales, 0) store_q1_q2_increase,
  CAST(ws3.web_sales AS DOUBLE) / nullif(ws2.web_sales, 0) web_q2_q3_increase,
  CAST(ss3.store_sales AS DOUBLE) / nullif(ss2.store_sales, 0) store_q2_q3_increase
FROM
  ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE
  ss1.d_qoy = 1
    AND ss1.d_year = 2000
    AND ss1.ca_county = ss2.ca_county
    AND ss2.d_qoy = 2
    AND ss2.d_year = 2000
    AND ss2.ca_county = ss3.ca_county
    AND ss3.d_qoy = 3
    AND ss3.d_year = 2000
    AND ss1.ca_county = ws1.ca_county
    AND ws1.d_qoy = 1
    AND ws1.d_year = 2000
    AND ws1.ca_county = ws2.ca_county
    AND ws2.d_qoy = 2
    AND ws2.d_year = 2000
    AND ws1.ca_county = ws3.ca_county
    AND ws3.d_qoy = 3
    AND ws3.d_year = 2000
    AND CASE WHEN ws1.web_sales > 0
    THEN ws2.web_sales / ws1.web_sales
        ELSE NULL END
    > CASE WHEN ss1.store_sales > 0
    THEN ss2.store_sales / ss1.store_sales
      ELSE NULL END
    AND CASE WHEN ws2.web_sales > 0
    THEN ws3.web_sales / ws2.web_sales
        ELSE NULL END
    > CASE WHEN ss2.store_sales > 0
    THEN ss3.store_sales / ss2.store_sales
      ELSE NULL END
ORDER BY ss1.ca_county
"""

# --- q32: excess catalog discounts vs 90-day item average ----------------
TPCDS_TEXTS["tpcds_q32"] = """
SELECT 1 AS excess_discount_amount
FROM
  catalog_sales, item, date_dim
WHERE
  i_manufact_id = 977
    AND i_item_sk = cs_item_sk
    AND d_date BETWEEN (cast('2000-01-27' AS DATE)) AND (cast('2000-01-27' AS DATE) + interval '90' DAY)
    AND d_date_sk = cs_sold_date_sk
    AND cs_ext_discount_amt > (
    SELECT 1.3 * avg(cs_ext_discount_amt)
    FROM catalog_sales, date_dim
    WHERE cs_item_sk = i_item_sk
      AND d_date BETWEEN (cast('2000-01-27' AS DATE)) AND (cast('2000-01-27' AS DATE) + interval '90' DAY)
      AND d_date_sk = cs_sold_date_sk)
LIMIT 100
"""

# --- q33: Electronics manufacturer sales across all three channels -------
TPCDS_TEXTS["tpcds_q33"] = """
WITH ss AS (
  SELECT
    i_manufact_id,
    sum(ss_ext_sales_price) total_sales
  FROM
    store_sales, date_dim, customer_address, item
  WHERE
    i_manufact_id IN (SELECT i_manufact_id
    FROM item
    WHERE i_category IN ('Electronics'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 5
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
  GROUP BY i_manufact_id), cs AS
(SELECT
    i_manufact_id,
    sum(cs_ext_sales_price) total_sales
  FROM catalog_sales, date_dim, customer_address, item
  WHERE
    i_manufact_id IN (
      SELECT i_manufact_id
      FROM item
      WHERE
        i_category IN ('Electronics'))
      AND cs_item_sk = i_item_sk
      AND cs_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 5
      AND cs_bill_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
  GROUP BY i_manufact_id),
    ws AS (
    SELECT
      i_manufact_id,
      sum(ws_ext_sales_price) total_sales
    FROM
      web_sales, date_dim, customer_address, item
    WHERE
      i_manufact_id IN (SELECT i_manufact_id
      FROM item
      WHERE i_category IN ('Electronics'))
        AND ws_item_sk = i_item_sk
        AND ws_sold_date_sk = d_date_sk
        AND d_year = 1998
        AND d_moy = 5
        AND ws_bill_addr_sk = ca_address_sk
        AND ca_gmt_offset = -5
    GROUP BY i_manufact_id)
SELECT
  i_manufact_id,
  CAST(sum(total_sales) AS BIGINT) total_sales
FROM (SELECT *
      FROM ss
      UNION ALL
      SELECT *
      FROM cs
      UNION ALL
      SELECT *
      FROM ws) tmp1
GROUP BY i_manufact_id
ORDER BY total_sales, i_manufact_id
LIMIT 100
"""

# --- q34: 15-to-20-line tickets of high-dependency households ------------
TPCDS_TEXTS["tpcds_q34"] = """
SELECT
  c_last_name,
  c_first_name,
  c_salutation,
  c_preferred_cust_flag,
  ss_ticket_number,
  cnt
FROM
  (SELECT
    ss_ticket_number,
    ss_customer_sk,
    count(*) cnt
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND (date_dim.d_dom BETWEEN 1 AND 3 OR date_dim.d_dom BETWEEN 25 AND 28)
    AND (household_demographics.hd_buy_potential = '>10000' OR
    household_demographics.hd_buy_potential = 'unknown')
    AND household_demographics.hd_vehicle_count > 0
    AND (CASE WHEN household_demographics.hd_vehicle_count > 0
    THEN household_demographics.hd_dep_count / household_demographics.hd_vehicle_count
         ELSE NULL
         END) > 1.2
    AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
    AND store.s_county IN
    ('Williamson County', 'Williamson County', 'Williamson County', 'Williamson County',
     'Williamson County', 'Williamson County', 'Williamson County', 'Williamson County')
  GROUP BY ss_ticket_number, ss_customer_sk) dn, customer
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 15 AND 20
ORDER BY c_last_name, c_first_name, c_salutation, c_preferred_cust_flag DESC
"""

# --- q35: demographics of multi-channel shoppers (aliases added) ---------
TPCDS_TEXTS["tpcds_q35"] = """
SELECT
  ca_state,
  cd_gender,
  cd_marital_status,
  count(*) cnt1,
  min(cd_dep_count) AS min_dep,
  max(cd_dep_count) AS max_dep,
  avg(cd_dep_count) AS avg_dep,
  cd_dep_employed_count,
  count(*) cnt2,
  min(cd_dep_employed_count) AS min_emp,
  max(cd_dep_employed_count) AS max_emp,
  avg(cd_dep_employed_count) AS avg_emp,
  cd_dep_college_count,
  count(*) cnt3,
  min(cd_dep_college_count) AS min_col,
  max(cd_dep_college_count) AS max_col,
  avg(cd_dep_college_count) AS avg_col
FROM
  customer c, customer_address ca, customer_demographics
WHERE
  c.c_current_addr_sk = ca.ca_address_sk AND
    cd_demo_sk = c.c_current_cdemo_sk AND
    exists(SELECT *
           FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk AND
             ss_sold_date_sk = d_date_sk AND
             d_year = 2002 AND
             d_qoy < 4) AND
    (exists(SELECT *
            FROM web_sales, date_dim
            WHERE c.c_customer_sk = ws_bill_customer_sk AND
              ws_sold_date_sk = d_date_sk AND
              d_year = 2002 AND
              d_qoy < 4) OR
      exists(SELECT *
             FROM catalog_sales, date_dim
             WHERE c.c_customer_sk = cs_ship_customer_sk AND
               cs_sold_date_sk = d_date_sk AND
               d_year = 2002 AND
               d_qoy < 4))
GROUP BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
  cd_dep_employed_count, cd_dep_college_count
ORDER BY ca_state, cd_gender, cd_marital_status, cd_dep_count,
  cd_dep_employed_count, cd_dep_college_count
LIMIT 100
"""

# --- q36: gross margin rank within category hierarchy --------------------
TPCDS_TEXTS["tpcds_q36"] = """
SELECT
  sum(ss_net_profit) / sum(ss_ext_sales_price) AS gross_margin,
  i_category,
  i_class,
  grouping(i_category) + grouping(i_class) AS lochierarchy,
  rank()
  OVER (
    PARTITION BY grouping(i_category) + grouping(i_class),
      CASE WHEN grouping(i_class) = 0
        THEN i_category END
    ORDER BY sum(ss_net_profit) / sum(ss_ext_sales_price) ASC) AS rank_within_parent
FROM
  store_sales, date_dim d1, item, store
WHERE
  d1.d_year = 2001
    AND d1.d_date_sk = ss_sold_date_sk
    AND i_item_sk = ss_item_sk
    AND s_store_sk = ss_store_sk
    AND s_state IN ('TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN', 'TN')
GROUP BY ROLLUP (i_category, i_class)
ORDER BY
  lochierarchy DESC
  , CASE WHEN lochierarchy = 0
  THEN i_category END NULLS FIRST
  , rank_within_parent
  , i_category NULLS FIRST
  , i_class NULLS FIRST
LIMIT 100
"""

# --- q37: well-stocked items also sold by catalog ------------------------
TPCDS_TEXTS["tpcds_q37"] = """
SELECT
  i_item_id,
  i_item_desc,
  i_current_price
FROM item, inventory, date_dim, catalog_sales
WHERE i_current_price BETWEEN 68 AND 68 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN cast('2000-02-01' AS DATE) AND (cast('2000-02-01' AS DATE) + INTERVAL '60' DAY)
  AND i_manufact_id IN (677, 940, 694, 808)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND cs_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""

# --- q38: customers active in all three channels (INTERSECT) -------------
TPCDS_TEXTS["tpcds_q38"] = """
SELECT count(*) AS hot_cust_count
FROM (
       SELECT DISTINCT
         c_last_name,
         c_first_name,
         d_date
       FROM store_sales, date_dim, customer
       WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
         AND store_sales.ss_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11
       INTERSECT
       SELECT DISTINCT
         c_last_name,
         c_first_name,
         d_date
       FROM catalog_sales, date_dim, customer
       WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
         AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11
       INTERSECT
       SELECT DISTINCT
         c_last_name,
         c_first_name,
         d_date
       FROM web_sales, date_dim, customer
       WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
         AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
         AND d_month_seq BETWEEN 1200 AND 1200 + 11
     ) hot_cust
LIMIT 100
"""

# --- q39: volatile inventory month-over-month pairs (inv2 aliased) -------
TPCDS_TEXTS["tpcds_q39"] = """
WITH inv AS
(SELECT
    w_warehouse_name,
    w_warehouse_sk,
    i_item_sk,
    d_moy,
    stdev,
    mean,
    CASE mean
    WHEN 0
      THEN NULL
    ELSE stdev / mean END cov
  FROM (SELECT
    w_warehouse_name,
    w_warehouse_sk,
    i_item_sk,
    d_moy,
    stddev_samp(inv_quantity_on_hand) stdev,
    avg(inv_quantity_on_hand) mean
  FROM inventory, item, warehouse, date_dim
  WHERE inv_item_sk = i_item_sk
    AND inv_warehouse_sk = w_warehouse_sk
    AND inv_date_sk = d_date_sk
    AND d_year = 2001
  GROUP BY w_warehouse_name, w_warehouse_sk, i_item_sk, d_moy) foo
  WHERE CASE mean
        WHEN 0
          THEN 0
        ELSE stdev / mean END > 1)
SELECT
  inv1.w_warehouse_sk,
  inv1.i_item_sk,
  inv1.d_moy,
  inv1.mean,
  inv1.cov,
  inv2.w_warehouse_sk AS w_warehouse_sk_2,
  inv2.i_item_sk AS i_item_sk_2,
  inv2.d_moy AS d_moy_2,
  inv2.mean AS mean_2,
  inv2.cov AS cov_2
FROM inv inv1, inv inv2
WHERE inv1.i_item_sk = inv2.i_item_sk
  AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.d_moy = 1
  AND inv2.d_moy = 1 + 1
ORDER BY inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy, inv1.mean, inv1.cov
  , inv2.d_moy, inv2.mean, inv2.cov
"""

# --- q40: warehouse sales net of refunds around a date -------------------
TPCDS_TEXTS["tpcds_q40"] = """
SELECT
  w_state,
  i_item_id,
  CAST(sum(CASE WHEN (cast(d_date AS DATE) < cast('2000-03-11' AS DATE))
    THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
      ELSE 0 END) AS BIGINT) AS sales_before,
  CAST(sum(CASE WHEN (cast(d_date AS DATE) >= cast('2000-03-11' AS DATE))
    THEN cs_sales_price - coalesce(cr_refunded_cash, 0)
      ELSE 0 END) AS BIGINT) AS sales_after
FROM
  catalog_sales
  LEFT OUTER JOIN catalog_returns ON
                                    (cs_order_number = cr_order_number
                                      AND cs_item_sk = cr_item_sk)
  , warehouse, item, date_dim
WHERE
  i_current_price BETWEEN 0.99 AND 1.49
    AND i_item_sk = cs_item_sk
    AND cs_warehouse_sk = w_warehouse_sk
    AND cs_sold_date_sk = d_date_sk
    AND d_date BETWEEN (cast('2000-03-11' AS DATE) - INTERVAL '30' DAY)
  AND (cast('2000-03-11' AS DATE) + INTERVAL '30' DAY)
GROUP BY w_state, i_item_id
ORDER BY w_state, i_item_id
LIMIT 100
"""


# --- q41: manufacturers with qualifying item variants ---------------------
TPCDS_TEXTS["tpcds_q41"] = """
SELECT DISTINCT (i_product_name)
FROM item i1
WHERE i_manufact_id BETWEEN 738 AND 738 + 40
  AND (SELECT count(*) AS item_cnt
FROM item
WHERE (i_manufact = i1.i_manufact AND
  ((i_category = 'Women' AND
    (i_color = 'powder' OR i_color = 'khaki') AND
    (i_units = 'Ounce' OR i_units = 'Oz') AND
    (i_size = 'medium' OR i_size = 'extra large')
  ) OR
    (i_category = 'Women' AND
      (i_color = 'brown' OR i_color = 'honeydew') AND
      (i_units = 'Bunch' OR i_units = 'Ton') AND
      (i_size = 'N/A' OR i_size = 'small')
    ) OR
    (i_category = 'Men' AND
      (i_color = 'floral' OR i_color = 'deep') AND
      (i_units = 'N/A' OR i_units = 'Dozen') AND
      (i_size = 'petite' OR i_size = 'large')
    ) OR
    (i_category = 'Men' AND
      (i_color = 'light' OR i_color = 'cornflower') AND
      (i_units = 'Box' OR i_units = 'Pound') AND
      (i_size = 'medium' OR i_size = 'extra large')
    ))) OR
  (i_manufact = i1.i_manufact AND
    ((i_category = 'Women' AND
      (i_color = 'midnight' OR i_color = 'snow') AND
      (i_units = 'Pallet' OR i_units = 'Gross') AND
      (i_size = 'medium' OR i_size = 'extra large')
    ) OR
      (i_category = 'Women' AND
        (i_color = 'cyan' OR i_color = 'papaya') AND
        (i_units = 'Cup' OR i_units = 'Dram') AND
        (i_size = 'N/A' OR i_size = 'small')
      ) OR
      (i_category = 'Men' AND
        (i_color = 'orange' OR i_color = 'frosted') AND
        (i_units = 'Each' OR i_units = 'Tbl') AND
        (i_size = 'petite' OR i_size = 'large')
      ) OR
      (i_category = 'Men' AND
        (i_color = 'forest' OR i_color = 'ghost') AND
        (i_units = 'Lb' OR i_units = 'Bundle') AND
        (i_size = 'medium' OR i_size = 'extra large')
      )))) > 0
ORDER BY i_product_name
LIMIT 100
"""

# --- q42: category sales in November 2000 --------------------------------
TPCDS_TEXTS["tpcds_q42"] = """
SELECT
  dt.d_year,
  item.i_category_id,
  item.i_category,
  CAST(sum(ss_ext_sales_price) AS BIGINT) AS sum_sales
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 2000
GROUP BY dt.d_year
  , item.i_category_id
  , item.i_category
ORDER BY sum(ss_ext_sales_price) DESC, dt.d_year
  , item.i_category_id
  , item.i_category
LIMIT 100
"""

# --- q43: weekday sales per store ----------------------------------------
TPCDS_TEXTS["tpcds_q43"] = """
SELECT
  s_store_name,
  s_store_id,
  CAST(sum(CASE WHEN (d_day_name = 'Sunday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) sun_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Monday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) mon_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Tuesday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) tue_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Wednesday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) wed_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Thursday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) thu_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Friday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) fri_sales,
  CAST(sum(CASE WHEN (d_day_name = 'Saturday')
    THEN ss_sales_price
      ELSE NULL END) AS BIGINT) sat_sales
FROM date_dim, store_sales, store
WHERE d_date_sk = ss_sold_date_sk AND
  s_store_sk = ss_store_sk AND
  s_gmt_offset = -5 AND
  d_year = 2000
GROUP BY s_store_name, s_store_id
ORDER BY s_store_name, s_store_id, sun_sales, mon_sales, tue_sales, wed_sales,
  thu_sales, fri_sales, sat_sales
LIMIT 100
"""

# --- q44: best and worst performing items at one store -------------------
TPCDS_TEXTS["tpcds_q44"] = """
SELECT
  asceding.rnk,
  i1.i_product_name best_performing,
  i2.i_product_name worst_performing
FROM (SELECT *
FROM (SELECT
  item_sk,
  rank()
  OVER (
    ORDER BY rank_col ASC) rnk
FROM (SELECT
  ss_item_sk item_sk,
  avg(ss_net_profit) rank_col
FROM store_sales ss1
WHERE ss_store_sk = 4
GROUP BY ss_item_sk
HAVING avg(ss_net_profit) > 0.9 * (SELECT avg(ss_net_profit) rank_col
FROM store_sales
WHERE ss_store_sk = 4
  AND ss_addr_sk IS NULL
GROUP BY ss_store_sk)) V1) V11
WHERE rnk < 11) asceding,
  (SELECT *
  FROM (SELECT
    item_sk,
    rank()
    OVER (
      ORDER BY rank_col DESC) rnk
  FROM (SELECT
    ss_item_sk item_sk,
    avg(ss_net_profit) rank_col
  FROM store_sales ss1
  WHERE ss_store_sk = 4
  GROUP BY ss_item_sk
  HAVING avg(ss_net_profit) > 0.9 * (SELECT avg(ss_net_profit) rank_col
  FROM store_sales
  WHERE ss_store_sk = 4
    AND ss_addr_sk IS NULL
  GROUP BY ss_store_sk)) V2) V21
  WHERE rnk < 11) descending,
  item i1, item i2
WHERE asceding.rnk = descending.rnk
  AND i1.i_item_sk = asceding.item_sk
  AND i2.i_item_sk = descending.item_sk
ORDER BY asceding.rnk
LIMIT 100
"""

# --- q45: web sales by zip or chosen items -------------------------------
TPCDS_TEXTS["tpcds_q45"] = """
SELECT
  ca_zip,
  ca_city,
  CAST(sum(ws_sales_price) AS BIGINT) AS sum_sales_price
FROM web_sales, customer, customer_address, date_dim, item
WHERE ws_bill_customer_sk = c_customer_sk
  AND c_current_addr_sk = ca_address_sk
  AND ws_item_sk = i_item_sk
  AND (substr(ca_zip, 1, 5) IN
  ('85669', '86197', '88274', '83405', '86475', '85392', '85460', '80348', '81792')
  OR
  i_item_id IN (SELECT i_item_id
  FROM item
  WHERE i_item_sk IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)
  )
)
  AND ws_sold_date_sk = d_date_sk
  AND d_qoy = 2 AND d_year = 2001
GROUP BY ca_zip, ca_city
ORDER BY ca_zip, ca_city
LIMIT 100
"""

# --- q46: weekend coupon spend away from home city -----------------------
TPCDS_TEXTS["tpcds_q46"] = """
SELECT
  c_last_name,
  c_first_name,
  ca_city,
  bought_city,
  ss_ticket_number,
  amt,
  profit
FROM
  (SELECT
    ss_ticket_number,
    ss_customer_sk,
    ca_city bought_city,
    CAST(sum(ss_coupon_amt) AS BIGINT) amt,
    CAST(sum(ss_net_profit) AS BIGINT) profit
  FROM store_sales, date_dim, store, household_demographics, customer_address
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND store_sales.ss_addr_sk = customer_address.ca_address_sk
    AND (household_demographics.hd_dep_count = 4 OR
    household_demographics.hd_vehicle_count = 3)
    AND date_dim.d_dow IN (6, 0)
    AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
    AND store.s_city IN ('Fairview', 'Midway', 'Fairview', 'Fairview', 'Fairview')
  GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn, customer,
  customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name, c_first_name, ca_city, bought_city, ss_ticket_number,
  amt, profit
LIMIT 100
"""

# --- q47: monthly brand sales vs yearly average with lag/lead self-joins -
TPCDS_TEXTS["tpcds_q47"] = """
WITH v1 AS (
  SELECT
    i_category,
    i_brand,
    s_store_name,
    s_company_name,
    d_year,
    d_moy,
    CAST(sum(ss_sales_price) AS BIGINT) sum_sales,
    avg(sum(ss_sales_price))
    OVER
    (PARTITION BY i_category, i_brand,
      s_store_name, s_company_name, d_year)
    avg_monthly_sales,
    rank()
    OVER
    (PARTITION BY i_category, i_brand,
      s_store_name, s_company_name
      ORDER BY d_year, d_moy) rn
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk AND
    ss_sold_date_sk = d_date_sk AND
    ss_store_sk = s_store_sk AND
    (
      d_year = 1999 OR
        (d_year = 1999 - 1 AND d_moy = 12) OR
        (d_year = 1999 + 1 AND d_moy = 1)
    )
  GROUP BY i_category, i_brand,
    s_store_name, s_company_name,
    d_year, d_moy),
    v2 AS (
    SELECT
      v1.i_category,
      v1.i_brand,
      v1.s_store_name,
      v1.s_company_name,
      v1.d_year,
      v1.d_moy,
      v1.avg_monthly_sales,
      v1.sum_sales,
      v1_lag.sum_sales psum,
      v1_lead.sum_sales nsum
    FROM v1, v1 v1_lag, v1 v1_lead
    WHERE v1.i_category = v1_lag.i_category AND
      v1.i_category = v1_lead.i_category AND
      v1.i_brand = v1_lag.i_brand AND
      v1.i_brand = v1_lead.i_brand AND
      v1.s_store_name = v1_lag.s_store_name AND
      v1.s_store_name = v1_lead.s_store_name AND
      v1.s_company_name = v1_lag.s_company_name AND
      v1.s_company_name = v1_lead.s_company_name AND
      v1.rn = v1_lag.rn + 1 AND
      v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1999 AND
  avg_monthly_sales > 0 AND
  CASE WHEN avg_monthly_sales > 0
    THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
  ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, 3, i_category, i_brand,
  s_company_name, d_moy
LIMIT 100
"""

# --- q48: quantity sold under demographic/address bands ------------------
TPCDS_TEXTS["tpcds_q48"] = """
SELECT CAST(sum(ss_quantity) AS BIGINT) AS sum_quantity
FROM store_sales, store, customer_demographics, customer_address, date_dim
WHERE s_store_sk = ss_store_sk
  AND ss_sold_date_sk = d_date_sk AND d_year = 2001
  AND
  (
    (
      cd_demo_sk = ss_cdemo_sk
        AND
        cd_marital_status = 'M'
        AND
        cd_education_status = '4 yr Degree'
        AND
        ss_sales_price BETWEEN 100.00 AND 150.00
    )
      OR
      (
        cd_demo_sk = ss_cdemo_sk
          AND
          cd_marital_status = 'D'
          AND
          cd_education_status = '2 yr Degree'
          AND
          ss_sales_price BETWEEN 50.00 AND 100.00
      )
      OR
      (
        cd_demo_sk = ss_cdemo_sk
          AND
          cd_marital_status = 'S'
          AND
          cd_education_status = 'College'
          AND
          ss_sales_price BETWEEN 150.00 AND 200.00
      )
  )
  AND
  (
    (
      ss_addr_sk = ca_address_sk
        AND
        ca_country = 'United States'
        AND
        ca_state IN ('CO', 'OH', 'TX')
        AND ss_net_profit BETWEEN 0 AND 2000
    )
      OR
      (ss_addr_sk = ca_address_sk
        AND
        ca_country = 'United States'
        AND
        ca_state IN ('OR', 'MN', 'KY')
        AND ss_net_profit BETWEEN 150 AND 3000
      )
      OR
      (ss_addr_sk = ca_address_sk
        AND
        ca_country = 'United States'
        AND
        ca_state IN ('VA', 'CA', 'MS')
        AND ss_net_profit BETWEEN 50 AND 25000
      )
  )
"""

# --- q49: worst return ratios per channel (DOUBLE casts; tie-break) ------
TPCDS_TEXTS["tpcds_q49"] = """
SELECT
  'web' AS channel,
  web.item,
  web.return_ratio,
  web.return_rank,
  web.currency_rank
FROM (
       SELECT
         item,
         return_ratio,
         currency_ratio,
         rank()
         OVER (
           ORDER BY return_ratio) AS return_rank,
         rank()
         OVER (
           ORDER BY currency_ratio) AS currency_rank
       FROM
         (SELECT
           ws.ws_item_sk AS item,
           (cast(sum(coalesce(wr.wr_return_quantity, 0)) AS DOUBLE) /
             cast(sum(coalesce(ws.ws_quantity, 0)) AS DOUBLE)) AS return_ratio,
           (cast(sum(coalesce(wr.wr_return_amt, 0)) AS DOUBLE) /
             cast(sum(coalesce(ws.ws_net_paid, 0)) AS DOUBLE)) AS currency_ratio
         FROM
           web_sales ws LEFT OUTER JOIN web_returns wr
             ON (ws.ws_order_number = wr.wr_order_number AND
             ws.ws_item_sk = wr.wr_item_sk)
           , date_dim
         WHERE
           wr.wr_return_amt > 10000
             AND ws.ws_net_profit > 1
             AND ws.ws_net_paid > 0
             AND ws.ws_quantity > 0
             AND ws_sold_date_sk = d_date_sk
             AND d_year = 2001
             AND d_moy = 12
         GROUP BY ws.ws_item_sk
         ) in_web
     ) web
WHERE (web.return_rank <= 10 OR web.currency_rank <= 10)
UNION
SELECT
  'catalog' AS channel,
  catalog.item,
  catalog.return_ratio,
  catalog.return_rank,
  catalog.currency_rank
FROM (
       SELECT
         item,
         return_ratio,
         currency_ratio,
         rank()
         OVER (
           ORDER BY return_ratio) AS return_rank,
         rank()
         OVER (
           ORDER BY currency_ratio) AS currency_rank
       FROM
         (SELECT
           cs.cs_item_sk AS item,
           (cast(sum(coalesce(cr.cr_return_quantity, 0)) AS DOUBLE) /
             cast(sum(coalesce(cs.cs_quantity, 0)) AS DOUBLE)) AS return_ratio,
           (cast(sum(coalesce(cr.cr_return_amount, 0)) AS DOUBLE) /
             cast(sum(coalesce(cs.cs_net_paid, 0)) AS DOUBLE)) AS currency_ratio
         FROM
           catalog_sales cs LEFT OUTER JOIN catalog_returns cr
             ON (cs.cs_order_number = cr.cr_order_number AND
             cs.cs_item_sk = cr.cr_item_sk)
           , date_dim
         WHERE
           cr.cr_return_amount > 10000
             AND cs.cs_net_profit > 1
             AND cs.cs_net_paid > 0
             AND cs.cs_quantity > 0
             AND cs_sold_date_sk = d_date_sk
             AND d_year = 2001
             AND d_moy = 12
         GROUP BY cs.cs_item_sk
         ) in_cat
     ) catalog
WHERE (catalog.return_rank <= 10 OR catalog.currency_rank <= 10)
UNION
SELECT
  'store' AS channel,
  store.item,
  store.return_ratio,
  store.return_rank,
  store.currency_rank
FROM (
       SELECT
         item,
         return_ratio,
         currency_ratio,
         rank()
         OVER (
           ORDER BY return_ratio) AS return_rank,
         rank()
         OVER (
           ORDER BY currency_ratio) AS currency_rank
       FROM
         (SELECT
           sts.ss_item_sk AS item,
           (cast(sum(coalesce(sr.sr_return_quantity, 0)) AS DOUBLE) /
             cast(sum(coalesce(sts.ss_quantity, 0)) AS DOUBLE)) AS return_ratio,
           (cast(sum(coalesce(sr.sr_return_amt, 0)) AS DOUBLE) /
             cast(sum(coalesce(sts.ss_net_paid, 0)) AS DOUBLE)) AS currency_ratio
         FROM
           store_sales sts LEFT OUTER JOIN store_returns sr
             ON (sts.ss_ticket_number = sr.sr_ticket_number AND sts.ss_item_sk = sr.sr_item_sk)
           , date_dim
         WHERE
           sr.sr_return_amt > 10000
             AND sts.ss_net_profit > 1
             AND sts.ss_net_paid > 0
             AND sts.ss_quantity > 0
             AND ss_sold_date_sk = d_date_sk
             AND d_year = 2001
             AND d_moy = 12
         GROUP BY sts.ss_item_sk
         ) in_store
     ) store
WHERE (store.return_rank <= 10 OR store.currency_rank <= 10)
ORDER BY 1, 4, 5, 2
LIMIT 100
"""

# --- q50: return latency buckets per store (aliases renamed) -------------
TPCDS_TEXTS["tpcds_q50"] = """
SELECT
  s_store_name,
  s_company_id,
  s_street_number,
  s_street_name,
  s_street_type,
  s_suite_number,
  s_city,
  s_county,
  s_state,
  s_zip,
  CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk <= 30)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_30,
  CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 30) AND
    (sr_returned_date_sk - ss_sold_date_sk <= 60)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_31_60,
  CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 60) AND
    (sr_returned_date_sk - ss_sold_date_sk <= 90)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_61_90,
  CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 90) AND
    (sr_returned_date_sk - ss_sold_date_sk <= 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_91_120,
  CAST(sum(CASE WHEN (sr_returned_date_sk - ss_sold_date_sk > 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_gt_120
FROM
  store_sales, store_returns, store, date_dim d1, date_dim d2
WHERE
  d2.d_year = 2001
    AND d2.d_moy = 8
    AND ss_ticket_number = sr_ticket_number
    AND ss_item_sk = sr_item_sk
    AND ss_sold_date_sk = d1.d_date_sk
    AND sr_returned_date_sk = d2.d_date_sk
    AND ss_customer_sk = sr_customer_sk
    AND ss_store_sk = s_store_sk
GROUP BY
  s_store_name, s_company_id, s_street_number, s_street_name, s_street_type,
  s_suite_number, s_city, s_county, s_state, s_zip
ORDER BY
  s_store_name, s_company_id, s_street_number, s_street_name, s_street_type,
  s_suite_number, s_city, s_county, s_state, s_zip
LIMIT 100
"""


# --- q51: web vs store cumulative sales crossover (sums pinned) ----------
TPCDS_TEXTS["tpcds_q51"] = """
WITH web_v1 AS (
  SELECT
    ws_item_sk item_sk,
    d_date,
    CAST(sum(sum(ws_sales_price))
    OVER (PARTITION BY ws_item_sk
      ORDER BY d_date
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cume_sales
  FROM web_sales, date_dim
  WHERE ws_sold_date_sk = d_date_sk
    AND d_month_seq BETWEEN 1200 AND 1200 + 11
    AND ws_item_sk IS NOT NULL
  GROUP BY ws_item_sk, d_date),
    store_v1 AS (
    SELECT
      ss_item_sk item_sk,
      d_date,
      CAST(sum(sum(ss_sales_price))
      OVER (PARTITION BY ss_item_sk
        ORDER BY d_date
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cume_sales
    FROM store_sales, date_dim
    WHERE ss_sold_date_sk = d_date_sk
      AND d_month_seq BETWEEN 1200 AND 1200 + 11
      AND ss_item_sk IS NOT NULL
    GROUP BY ss_item_sk, d_date)
SELECT *
FROM (SELECT
  item_sk,
  d_date,
  web_sales,
  store_sales,
  max(web_sales)
  OVER (PARTITION BY item_sk
    ORDER BY d_date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) web_cumulative,
  max(store_sales)
  OVER (PARTITION BY item_sk
    ORDER BY d_date
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) store_cumulative
FROM (SELECT
  CASE WHEN web.item_sk IS NOT NULL
    THEN web.item_sk
  ELSE store.item_sk END item_sk,
  CASE WHEN web.d_date IS NOT NULL
    THEN web.d_date
  ELSE store.d_date END d_date,
  web.cume_sales web_sales,
  store.cume_sales store_sales
FROM web_v1 web FULL OUTER JOIN store_v1 store ON (web.item_sk = store.item_sk
  AND web.d_date = store.d_date)
     ) x) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT 100
"""

# --- q52: brand ext-price for one manager-month (tie-break added) ---------
TPCDS_TEXTS["tpcds_q52"] = """
SELECT
  dt.d_year,
  item.i_brand_id brand_id,
  item.i_brand brand,
  CAST(sum(ss_ext_sales_price) AS BIGINT) ext_price
FROM date_dim dt, store_sales, item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy = 11
  AND dt.d_year = 2000
GROUP BY dt.d_year, item.i_brand, item.i_brand_id
ORDER BY dt.d_year, ext_price DESC, brand_id, brand
LIMIT 100
"""

# --- q53: manufacturers off their quarterly average ----------------------
TPCDS_TEXTS["tpcds_q53"] = """
SELECT *
FROM
  (SELECT
    i_manufact_id,
    CAST(sum(ss_sales_price) AS BIGINT) sum_sales,
    avg(sum(ss_sales_price))
    OVER (PARTITION BY i_manufact_id) avg_quarterly_sales
  FROM item, store_sales, date_dim, store
  WHERE ss_item_sk = i_item_sk AND
    ss_sold_date_sk = d_date_sk AND
    ss_store_sk = s_store_sk AND
    d_month_seq IN (1200, 1200 + 1, 1200 + 2, 1200 + 3, 1200 + 4, 1200 + 5, 1200 + 6,
                          1200 + 7, 1200 + 8, 1200 + 9, 1200 + 10, 1200 + 11) AND
    ((i_category IN ('Books', 'Children', 'Electronics') AND
      i_class IN ('personal', 'portable', 'reference', 'self-help') AND
      i_brand IN ('scholaramalgamalg #14', 'scholaramalgamalg #7',
                  'exportiunivamalg #9', 'scholaramalgamalg #9'))
      OR
      (i_category IN ('Women', 'Music', 'Men') AND
        i_class IN ('accessories', 'classical', 'fragrances', 'pants') AND
        i_brand IN ('amalgimporto #1', 'edu packscholar #1', 'exportiimporto #1',
                    'importoamalg #1')))
  GROUP BY i_manufact_id, d_qoy) tmp1
WHERE CASE WHEN avg_quarterly_sales > 0
  THEN abs(sum_sales - avg_quarterly_sales) / avg_quarterly_sales
      ELSE NULL END > 0.1
ORDER BY avg_quarterly_sales,
  sum_sales,
  i_manufact_id
LIMIT 100
"""

# --- q54: revenue segments of cross-channel maternity buyers --------------
# cast((revenue/50) AS INT) pinned to floor(): Trino/Spark truncate a
# float->int cast where DuckDB rounds; floor() is the shared semantics
# for this non-negative revenue.
TPCDS_TEXTS["tpcds_q54"] = """
WITH my_customers AS (
  SELECT DISTINCT
    c_customer_sk,
    c_current_addr_sk
  FROM
    (SELECT
       cs_sold_date_sk sold_date_sk,
       cs_bill_customer_sk customer_sk,
       cs_item_sk item_sk
     FROM catalog_sales
     UNION ALL
     SELECT
       ws_sold_date_sk sold_date_sk,
       ws_bill_customer_sk customer_sk,
       ws_item_sk item_sk
     FROM web_sales
    ) cs_or_ws_sales,
    item,
    date_dim,
    customer
  WHERE sold_date_sk = d_date_sk
    AND item_sk = i_item_sk
    AND i_category = 'Women'
    AND i_class = 'maternity'
    AND c_customer_sk = cs_or_ws_sales.customer_sk
    AND d_moy = 12
    AND d_year = 1998
)
  , my_revenue AS (
  SELECT
    c_customer_sk,
    CAST(sum(ss_ext_sales_price) AS BIGINT) AS revenue
  FROM my_customers,
    store_sales,
    customer_address,
    store,
    date_dim
  WHERE c_current_addr_sk = ca_address_sk
    AND ca_county = s_county
    AND ca_state = s_state
    AND ss_sold_date_sk = d_date_sk
    AND c_customer_sk = ss_customer_sk
    AND d_month_seq BETWEEN (SELECT DISTINCT d_month_seq + 1
  FROM date_dim
  WHERE d_year = 1998 AND d_moy = 12)
  AND (SELECT DISTINCT d_month_seq + 3
  FROM date_dim
  WHERE d_year = 1998 AND d_moy = 12)
  GROUP BY c_customer_sk
)
  , segments AS
(SELECT cast(floor(revenue / 50.0) AS INT) AS segment
  FROM my_revenue)
SELECT
  segment,
  count(*) AS num_customers,
  segment * 50 AS segment_base
FROM segments
GROUP BY segment
ORDER BY segment, num_customers
LIMIT 100
"""

# --- q55: brand ext-price, manager 28 (tie-break added) -------------------
TPCDS_TEXTS["tpcds_q55"] = """
SELECT
  i_brand_id brand_id,
  i_brand brand,
  CAST(sum(ss_ext_sales_price) AS BIGINT) ext_price
FROM date_dim, store_sales, item
WHERE d_date_sk = ss_sold_date_sk
  AND ss_item_sk = i_item_sk
  AND i_manager_id = 28
  AND d_moy = 11
  AND d_year = 1999
GROUP BY i_brand, i_brand_id
ORDER BY ext_price DESC, brand_id, brand
LIMIT 100
"""

# --- q56: three-channel totals for color-picked items ---------------------
TPCDS_TEXTS["tpcds_q56"] = """
WITH ss AS (
  SELECT
    i_item_id,
    sum(ss_ext_sales_price) total_sales
  FROM
    store_sales, date_dim, customer_address, item
  WHERE
    i_item_id IN (SELECT i_item_id
    FROM item
    WHERE i_color IN ('slate', 'blanched', 'burnished'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 2001
      AND d_moy = 2
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
  GROUP BY i_item_id),
    cs AS (
    SELECT
      i_item_id,
      sum(cs_ext_sales_price) total_sales
    FROM
      catalog_sales, date_dim, customer_address, item
    WHERE
      i_item_id IN (SELECT i_item_id
      FROM item
      WHERE i_color IN ('slate', 'blanched', 'burnished'))
        AND cs_item_sk = i_item_sk
        AND cs_sold_date_sk = d_date_sk
        AND d_year = 2001
        AND d_moy = 2
        AND cs_bill_addr_sk = ca_address_sk
        AND ca_gmt_offset = -5
    GROUP BY i_item_id),
    ws AS (
    SELECT
      i_item_id,
      sum(ws_ext_sales_price) total_sales
    FROM
      web_sales, date_dim, customer_address, item
    WHERE
      i_item_id IN (SELECT i_item_id
      FROM item
      WHERE i_color IN ('slate', 'blanched', 'burnished'))
        AND ws_item_sk = i_item_sk
        AND ws_sold_date_sk = d_date_sk
        AND d_year = 2001
        AND d_moy = 2
        AND ws_bill_addr_sk = ca_address_sk
        AND ca_gmt_offset = -5
    GROUP BY i_item_id)
SELECT
  i_item_id,
  CAST(sum(total_sales) AS BIGINT) total_sales
FROM (SELECT *
      FROM ss
      UNION ALL
      SELECT *
      FROM cs
      UNION ALL
      SELECT *
      FROM ws) tmp1
GROUP BY i_item_id
ORDER BY total_sales, i_item_id
LIMIT 100
"""

# --- q57: call-center monthly outliers (catalog twin of q47) --------------
TPCDS_TEXTS["tpcds_q57"] = """
WITH v1 AS (
  SELECT
    i_category,
    i_brand,
    cc_name,
    d_year,
    d_moy,
    CAST(sum(cs_sales_price) AS BIGINT) sum_sales,
    avg(sum(cs_sales_price))
    OVER
    (PARTITION BY i_category, i_brand, cc_name, d_year)
    avg_monthly_sales,
    rank()
    OVER
    (PARTITION BY i_category, i_brand, cc_name
      ORDER BY d_year, d_moy) rn
  FROM item, catalog_sales, date_dim, call_center
  WHERE cs_item_sk = i_item_sk AND
    cs_sold_date_sk = d_date_sk AND
    cc_call_center_sk = cs_call_center_sk AND
    (
      d_year = 1999 OR
        (d_year = 1999 - 1 AND d_moy = 12) OR
        (d_year = 1999 + 1 AND d_moy = 1)
    )
  GROUP BY i_category, i_brand,
    cc_name, d_year, d_moy),
    v2 AS (
    SELECT
      v1.i_category,
      v1.i_brand,
      v1.cc_name,
      v1.d_year,
      v1.d_moy,
      v1.avg_monthly_sales,
      v1.sum_sales,
      v1_lag.sum_sales psum,
      v1_lead.sum_sales nsum
    FROM v1, v1 v1_lag, v1 v1_lead
    WHERE v1.i_category = v1_lag.i_category AND
      v1.i_category = v1_lead.i_category AND
      v1.i_brand = v1_lag.i_brand AND
      v1.i_brand = v1_lead.i_brand AND
      v1.cc_name = v1_lag.cc_name AND
      v1.cc_name = v1_lead.cc_name AND
      v1.rn = v1_lag.rn + 1 AND
      v1.rn = v1_lead.rn - 1)
SELECT *
FROM v2
WHERE d_year = 1999 AND
  avg_monthly_sales > 0 AND
  CASE WHEN avg_monthly_sales > 0
    THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
  ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, 3, i_category, i_brand, d_moy
LIMIT 100
"""

# --- q58: items with balanced revenue across all three channels -----------
TPCDS_TEXTS["tpcds_q58"] = """
WITH ss_items AS
(SELECT
    i_item_id item_id,
    CAST(sum(ss_ext_sales_price) AS BIGINT) ss_item_rev
  FROM store_sales, item, date_dim
  WHERE ss_item_sk = i_item_sk
    AND d_date IN (SELECT d_date
  FROM date_dim
  WHERE d_week_seq = (SELECT d_week_seq
  FROM date_dim
  WHERE d_date = CAST('2000-01-03' AS DATE)))
    AND ss_sold_date_sk = d_date_sk
  GROUP BY i_item_id),
    cs_items AS
  (SELECT
    i_item_id item_id,
    CAST(sum(cs_ext_sales_price) AS BIGINT) cs_item_rev
  FROM catalog_sales, item, date_dim
  WHERE cs_item_sk = i_item_sk
    AND d_date IN (SELECT d_date
  FROM date_dim
  WHERE d_week_seq = (SELECT d_week_seq
  FROM date_dim
  WHERE d_date = CAST('2000-01-03' AS DATE)))
    AND cs_sold_date_sk = d_date_sk
  GROUP BY i_item_id),
    ws_items AS
  (SELECT
    i_item_id item_id,
    CAST(sum(ws_ext_sales_price) AS BIGINT) ws_item_rev
  FROM web_sales, item, date_dim
  WHERE ws_item_sk = i_item_sk
    AND d_date IN (SELECT d_date
  FROM date_dim
  WHERE d_week_seq = (SELECT d_week_seq
  FROM date_dim
  WHERE d_date = CAST('2000-01-03' AS DATE)))
    AND ws_sold_date_sk = d_date_sk
  GROUP BY i_item_id)
SELECT
  ss_items.item_id,
  ss_item_rev,
  CAST(ss_item_rev AS DOUBLE) / nullif(ss_item_rev + cs_item_rev + ws_item_rev, 0)
      / 3 * 100 ss_dev,
  cs_item_rev,
  CAST(cs_item_rev AS DOUBLE) / nullif(ss_item_rev + cs_item_rev + ws_item_rev, 0)
      / 3 * 100 cs_dev,
  ws_item_rev,
  CAST(ws_item_rev AS DOUBLE) / nullif(ss_item_rev + cs_item_rev + ws_item_rev, 0)
      / 3 * 100 ws_dev,
  (ss_item_rev + cs_item_rev + ws_item_rev) / 3 average
FROM ss_items, cs_items, ws_items
WHERE ss_items.item_id = cs_items.item_id
  AND ss_items.item_id = ws_items.item_id
  AND ss_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
  AND ss_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
  AND cs_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
  AND cs_item_rev BETWEEN 0.9 * ws_item_rev AND 1.1 * ws_item_rev
  AND ws_item_rev BETWEEN 0.9 * ss_item_rev AND 1.1 * ss_item_rev
  AND ws_item_rev BETWEEN 0.9 * cs_item_rev AND 1.1 * cs_item_rev
ORDER BY ss_items.item_id, ss_item_rev
LIMIT 100
"""

# --- q59: week-over-year per-store daily ratios (aliases added; ratio
# numerators pinned to DOUBLE — a zero same-day sum in the denominator is
# IEEE inf under double division on both engines, where Spark's ANSI
# integral division would throw) ------------------------------------------
TPCDS_TEXTS["tpcds_q59"] = """
WITH wss AS
(SELECT
    d_week_seq,
    ss_store_sk,
    CAST(sum(CASE WHEN (d_day_name = 'Sunday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) sun_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Monday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) mon_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Tuesday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) tue_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Wednesday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) wed_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Thursday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) thu_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Friday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) fri_sales,
    CAST(sum(CASE WHEN (d_day_name = 'Saturday')
      THEN ss_sales_price
        ELSE NULL END) AS BIGINT) sat_sales
  FROM store_sales, date_dim
  WHERE d_date_sk = ss_sold_date_sk
  GROUP BY d_week_seq, ss_store_sk
)
SELECT
  s_store_name1,
  s_store_id1,
  d_week_seq1,
  CAST(sun_sales1 AS DOUBLE) / nullif(sun_sales2, 0) AS sun_ratio,
  CAST(mon_sales1 AS DOUBLE) / nullif(mon_sales2, 0) AS mon_ratio,
  CAST(tue_sales1 AS DOUBLE) / nullif(tue_sales2, 0) AS tue_ratio,
  CAST(wed_sales1 AS DOUBLE) / nullif(wed_sales2, 0) AS wed_ratio,
  CAST(thu_sales1 AS DOUBLE) / nullif(thu_sales2, 0) AS thu_ratio,
  CAST(fri_sales1 AS DOUBLE) / nullif(fri_sales2, 0) AS fri_ratio,
  CAST(sat_sales1 AS DOUBLE) / nullif(sat_sales2, 0) AS sat_ratio
FROM
  (SELECT
    s_store_name s_store_name1,
    wss.d_week_seq d_week_seq1,
    s_store_id s_store_id1,
    sun_sales sun_sales1,
    mon_sales mon_sales1,
    tue_sales tue_sales1,
    wed_sales wed_sales1,
    thu_sales thu_sales1,
    fri_sales fri_sales1,
    sat_sales sat_sales1
  FROM wss, store, date_dim d
  WHERE d.d_week_seq = wss.d_week_seq AND
    ss_store_sk = s_store_sk AND
    d_month_seq BETWEEN 1212 AND 1212 + 11) y,
  (SELECT
    s_store_name s_store_name2,
    wss.d_week_seq d_week_seq2,
    s_store_id s_store_id2,
    sun_sales sun_sales2,
    mon_sales mon_sales2,
    tue_sales tue_sales2,
    wed_sales wed_sales2,
    thu_sales thu_sales2,
    fri_sales fri_sales2,
    sat_sales sat_sales2
  FROM wss, store, date_dim d
  WHERE d.d_week_seq = wss.d_week_seq AND
    ss_store_sk = s_store_sk AND
    d_month_seq BETWEEN 1212 + 12 AND 1212 + 23) x
WHERE s_store_id1 = s_store_id2
  AND d_week_seq1 = d_week_seq2 - 52
ORDER BY s_store_name1, s_store_id1, d_week_seq1
LIMIT 100
"""

# --- q60: three-channel totals for Music items -----------------------------
TPCDS_TEXTS["tpcds_q60"] = """
WITH ss AS (
  SELECT
    i_item_id,
    sum(ss_ext_sales_price) total_sales
  FROM store_sales, date_dim, customer_address, item
  WHERE
    i_item_id IN (SELECT i_item_id
    FROM item
    WHERE i_category IN ('Music'))
      AND ss_item_sk = i_item_sk
      AND ss_sold_date_sk = d_date_sk
      AND d_year = 1998
      AND d_moy = 9
      AND ss_addr_sk = ca_address_sk
      AND ca_gmt_offset = -5
  GROUP BY i_item_id),
    cs AS (
    SELECT
      i_item_id,
      sum(cs_ext_sales_price) total_sales
    FROM catalog_sales, date_dim, customer_address, item
    WHERE
      i_item_id IN (SELECT i_item_id
      FROM item
      WHERE i_category IN ('Music'))
        AND cs_item_sk = i_item_sk
        AND cs_sold_date_sk = d_date_sk
        AND d_year = 1998
        AND d_moy = 9
        AND cs_bill_addr_sk = ca_address_sk
        AND ca_gmt_offset = -5
    GROUP BY i_item_id),
    ws AS (
    SELECT
      i_item_id,
      sum(ws_ext_sales_price) total_sales
    FROM web_sales, date_dim, customer_address, item
    WHERE
      i_item_id IN (SELECT i_item_id
      FROM item
      WHERE i_category IN ('Music'))
        AND ws_item_sk = i_item_sk
        AND ws_sold_date_sk = d_date_sk
        AND d_year = 1998
        AND d_moy = 9
        AND ws_bill_addr_sk = ca_address_sk
        AND ca_gmt_offset = -5
    GROUP BY i_item_id)
SELECT
  i_item_id,
  CAST(sum(total_sales) AS BIGINT) total_sales
FROM (SELECT *
      FROM ss
      UNION ALL
      SELECT *
      FROM cs
      UNION ALL
      SELECT *
      FROM ws) tmp1
GROUP BY i_item_id
ORDER BY i_item_id, total_sales
LIMIT 100
"""


# --- q61: promotional share of Jewelry sales (DECIMAL cast pinned) --------
# cast(... AS DECIMAL(15,4)) pinned to DOUBLE: Spark and DuckDB assign
# different result scales to decimal division, which renders differently;
# bigint->double is exact and one IEEE division is engine-stable.
TPCDS_TEXTS["tpcds_q61"] = """
SELECT
  promotions,
  total,
  cast(promotions AS DOUBLE) / cast(total AS DOUBLE) * 100 AS promo_pct
FROM
  (SELECT CAST(sum(ss_ext_sales_price) AS BIGINT) promotions
  FROM store_sales, store, promotion, date_dim, customer, customer_address, item
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND ss_promo_sk = p_promo_sk
    AND ss_customer_sk = c_customer_sk
    AND ca_address_sk = c_current_addr_sk
    AND ss_item_sk = i_item_sk
    AND ca_gmt_offset = -5
    AND i_category = 'Jewelry'
    AND (p_channel_dmail = 'Y' OR p_channel_email = 'Y' OR p_channel_tv = 'Y')
    AND s_gmt_offset = -5
    AND d_year = 1998
    AND d_moy = 11) promotional_sales,
  (SELECT CAST(sum(ss_ext_sales_price) AS BIGINT) total
  FROM store_sales, store, date_dim, customer, customer_address, item
  WHERE ss_sold_date_sk = d_date_sk
    AND ss_store_sk = s_store_sk
    AND ss_customer_sk = c_customer_sk
    AND ca_address_sk = c_current_addr_sk
    AND ss_item_sk = i_item_sk
    AND ca_gmt_offset = -5
    AND i_category = 'Jewelry'
    AND s_gmt_offset = -5
    AND d_year = 1998
    AND d_moy = 11) all_sales
ORDER BY promotions, total
LIMIT 100
"""

# --- q62: web ship-latency buckets (quoted aliases -> identifiers) ---------
TPCDS_TEXTS["tpcds_q62"] = """
SELECT
  substr(w_warehouse_name, 1, 20) AS wh_name,
  sm_type,
  web_name,
  CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk <= 30)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_30,
  CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 30) AND
    (ws_ship_date_sk - ws_sold_date_sk <= 60)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_31_60,
  CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 60) AND
    (ws_ship_date_sk - ws_sold_date_sk <= 90)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_61_90,
  CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 90) AND
    (ws_ship_date_sk - ws_sold_date_sk <= 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_91_120,
  CAST(sum(CASE WHEN (ws_ship_date_sk - ws_sold_date_sk > 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_gt_120
FROM
  web_sales, warehouse, ship_mode, web_site, date_dim
WHERE
  d_month_seq BETWEEN 1200 AND 1200 + 11
    AND ws_ship_date_sk = d_date_sk
    AND ws_warehouse_sk = w_warehouse_sk
    AND ws_ship_mode_sk = sm_ship_mode_sk
    AND ws_web_site_sk = web_site_sk
GROUP BY
  substr(w_warehouse_name, 1, 20), sm_type, web_name
ORDER BY
  substr(w_warehouse_name, 1, 20), sm_type, web_name
LIMIT 100
"""

# --- q63: managers off their monthly average (reference typo kept) --------
TPCDS_TEXTS["tpcds_q63"] = """
SELECT *
FROM (SELECT
  i_manager_id,
  CAST(sum(ss_sales_price) AS BIGINT) sum_sales,
  avg(sum(ss_sales_price))
  OVER (PARTITION BY i_manager_id) avg_monthly_sales
FROM item
  , store_sales
  , date_dim
  , store
WHERE ss_item_sk = i_item_sk
  AND ss_sold_date_sk = d_date_sk
  AND ss_store_sk = s_store_sk
  AND d_month_seq IN (1200, 1200 + 1, 1200 + 2, 1200 + 3, 1200 + 4, 1200 + 5, 1200 + 6, 1200 + 7,
                            1200 + 8, 1200 + 9, 1200 + 10, 1200 + 11)
  AND ((i_category IN ('Books', 'Children', 'Electronics')
  AND i_class IN ('personal', 'portable', 'refernece', 'self-help')
  AND i_brand IN ('scholaramalgamalg #14', 'scholaramalgamalg #7',
                  'exportiunivamalg #9', 'scholaramalgamalg #9'))
  OR (i_category IN ('Women', 'Music', 'Men')
  AND i_class IN ('accessories', 'classical', 'fragrances', 'pants')
  AND i_brand IN ('amalgimporto #1', 'edu packscholar #1', 'exportiimporto #1',
                  'importoamalg #1')))
GROUP BY i_manager_id, d_moy) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
  THEN abs(sum_sales - avg_monthly_sales) / avg_monthly_sales
      ELSE NULL END > 0.1
ORDER BY i_manager_id
  , avg_monthly_sales
  , sum_sales
LIMIT 100
"""

# --- q64: year-over-year cross-sales detail (cs2 columns aliased) ----------
TPCDS_TEXTS["tpcds_q64"] = """
WITH cs_ui AS
(SELECT
    cs_item_sk,
    sum(cs_ext_list_price) AS sale,
    sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit) AS refund
  FROM catalog_sales
    , catalog_returns
  WHERE cs_item_sk = cr_item_sk
    AND cs_order_number = cr_order_number
  GROUP BY cs_item_sk
  HAVING sum(cs_ext_list_price) > 2 * sum(cr_refunded_cash + cr_reversed_charge + cr_store_credit)),
    cross_sales AS
  (SELECT
    i_product_name product_name,
    i_item_sk item_sk,
    s_store_name store_name,
    s_zip store_zip,
    ad1.ca_street_number b_street_number,
    ad1.ca_street_name b_streen_name,
    ad1.ca_city b_city,
    ad1.ca_zip b_zip,
    ad2.ca_street_number c_street_number,
    ad2.ca_street_name c_street_name,
    ad2.ca_city c_city,
    ad2.ca_zip c_zip,
    d1.d_year AS syear,
    d2.d_year AS fsyear,
    d3.d_year s2year,
    count(*) cnt,
    CAST(sum(ss_wholesale_cost) AS BIGINT) s1,
    CAST(sum(ss_list_price) AS BIGINT) s2,
    CAST(sum(ss_coupon_amt) AS BIGINT) s3
  FROM store_sales, store_returns, cs_ui, date_dim d1, date_dim d2, date_dim d3,
    store, customer, customer_demographics cd1, customer_demographics cd2,
    promotion, household_demographics hd1, household_demographics hd2,
    customer_address ad1, customer_address ad2, income_band ib1, income_band ib2, item
  WHERE ss_store_sk = s_store_sk AND
    ss_sold_date_sk = d1.d_date_sk AND
    ss_customer_sk = c_customer_sk AND
    ss_cdemo_sk = cd1.cd_demo_sk AND
    ss_hdemo_sk = hd1.hd_demo_sk AND
    ss_addr_sk = ad1.ca_address_sk AND
    ss_item_sk = i_item_sk AND
    ss_item_sk = sr_item_sk AND
    ss_ticket_number = sr_ticket_number AND
    ss_item_sk = cs_ui.cs_item_sk AND
    c_current_cdemo_sk = cd2.cd_demo_sk AND
    c_current_hdemo_sk = hd2.hd_demo_sk AND
    c_current_addr_sk = ad2.ca_address_sk AND
    c_first_sales_date_sk = d2.d_date_sk AND
    c_first_shipto_date_sk = d3.d_date_sk AND
    ss_promo_sk = p_promo_sk AND
    hd1.hd_income_band_sk = ib1.ib_income_band_sk AND
    hd2.hd_income_band_sk = ib2.ib_income_band_sk AND
    cd1.cd_marital_status <> cd2.cd_marital_status AND
    i_color IN ('purple', 'burlywood', 'indian', 'spring', 'floral', 'medium') AND
    i_current_price BETWEEN 64 AND 64 + 10 AND
    i_current_price BETWEEN 64 + 1 AND 64 + 15
  GROUP BY i_product_name, i_item_sk, s_store_name, s_zip, ad1.ca_street_number,
    ad1.ca_street_name, ad1.ca_city, ad1.ca_zip, ad2.ca_street_number,
    ad2.ca_street_name, ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year
  )
SELECT
  cs1.product_name,
  cs1.store_name,
  cs1.store_zip,
  cs1.b_street_number,
  cs1.b_streen_name,
  cs1.b_city,
  cs1.b_zip,
  cs1.c_street_number,
  cs1.c_street_name,
  cs1.c_city,
  cs1.c_zip,
  cs1.syear,
  cs1.cnt,
  cs1.s1,
  cs1.s2,
  cs1.s3,
  cs2.s1 AS s1_y2,
  cs2.s2 AS s2_y2,
  cs2.s3 AS s3_y2,
  cs2.syear AS syear_y2,
  cs2.cnt AS cnt_y2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk AND
  cs1.syear = 1999 AND
  cs2.syear = 1999 + 1 AND
  cs2.cnt <= cs1.cnt AND
  cs1.store_name = cs2.store_name AND
  cs1.store_zip = cs2.store_zip
ORDER BY cs1.product_name, cs1.store_name, cs2.cnt
"""

# --- q65: slow movers vs store average revenue -----------------------------
TPCDS_TEXTS["tpcds_q65"] = """
SELECT
  s_store_name,
  i_item_desc,
  sc.revenue,
  i_current_price,
  i_wholesale_cost,
  i_brand
FROM store, item,
  (SELECT
    ss_store_sk,
    avg(revenue) AS ave
  FROM
    (SELECT
      ss_store_sk,
      ss_item_sk,
      CAST(sum(ss_sales_price) AS BIGINT) AS revenue
    FROM store_sales, date_dim
    WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1176 + 11
    GROUP BY ss_store_sk, ss_item_sk) sa
  GROUP BY ss_store_sk) sb,
  (SELECT
    ss_store_sk,
    ss_item_sk,
    CAST(sum(ss_sales_price) AS BIGINT) AS revenue
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1176 + 11
  GROUP BY ss_store_sk, ss_item_sk) sc
WHERE sb.ss_store_sk = sc.ss_store_sk AND
  sc.revenue <= 0.1 * sb.ave AND
  s_store_sk = sc.ss_store_sk AND
  i_item_sk = sc.ss_item_sk
ORDER BY s_store_name, i_item_desc, sc.revenue, i_brand
LIMIT 100
"""

# --- q66: warehouse monthly shipping profile (web + catalog) ---------------
TPCDS_TEXTS["tpcds_q66"] = """
SELECT
  w_warehouse_name,
  w_warehouse_sq_ft,
  w_city,
  w_county,
  w_state,
  w_country,
  ship_carriers,
  year,
  CAST(sum(jan_sales) AS BIGINT) AS jan_sales,
  CAST(sum(feb_sales) AS BIGINT) AS feb_sales,
  CAST(sum(mar_sales) AS BIGINT) AS mar_sales,
  CAST(sum(apr_sales) AS BIGINT) AS apr_sales,
  CAST(sum(may_sales) AS BIGINT) AS may_sales,
  CAST(sum(jun_sales) AS BIGINT) AS jun_sales,
  CAST(sum(jul_sales) AS BIGINT) AS jul_sales,
  CAST(sum(aug_sales) AS BIGINT) AS aug_sales,
  CAST(sum(sep_sales) AS BIGINT) AS sep_sales,
  CAST(sum(oct_sales) AS BIGINT) AS oct_sales,
  CAST(sum(nov_sales) AS BIGINT) AS nov_sales,
  CAST(sum(dec_sales) AS BIGINT) AS dec_sales,
  sum(jan_sales / w_warehouse_sq_ft) AS jan_sales_per_sq_foot,
  sum(feb_sales / w_warehouse_sq_ft) AS feb_sales_per_sq_foot,
  sum(mar_sales / w_warehouse_sq_ft) AS mar_sales_per_sq_foot,
  sum(apr_sales / w_warehouse_sq_ft) AS apr_sales_per_sq_foot,
  sum(may_sales / w_warehouse_sq_ft) AS may_sales_per_sq_foot,
  sum(jun_sales / w_warehouse_sq_ft) AS jun_sales_per_sq_foot,
  sum(jul_sales / w_warehouse_sq_ft) AS jul_sales_per_sq_foot,
  sum(aug_sales / w_warehouse_sq_ft) AS aug_sales_per_sq_foot,
  sum(sep_sales / w_warehouse_sq_ft) AS sep_sales_per_sq_foot,
  sum(oct_sales / w_warehouse_sq_ft) AS oct_sales_per_sq_foot,
  sum(nov_sales / w_warehouse_sq_ft) AS nov_sales_per_sq_foot,
  sum(dec_sales / w_warehouse_sq_ft) AS dec_sales_per_sq_foot,
  CAST(sum(jan_net) AS BIGINT) AS jan_net,
  CAST(sum(feb_net) AS BIGINT) AS feb_net,
  CAST(sum(mar_net) AS BIGINT) AS mar_net,
  CAST(sum(apr_net) AS BIGINT) AS apr_net,
  CAST(sum(may_net) AS BIGINT) AS may_net,
  CAST(sum(jun_net) AS BIGINT) AS jun_net,
  CAST(sum(jul_net) AS BIGINT) AS jul_net,
  CAST(sum(aug_net) AS BIGINT) AS aug_net,
  CAST(sum(sep_net) AS BIGINT) AS sep_net,
  CAST(sum(oct_net) AS BIGINT) AS oct_net,
  CAST(sum(nov_net) AS BIGINT) AS nov_net,
  CAST(sum(dec_net) AS BIGINT) AS dec_net
FROM (
       (SELECT
         w_warehouse_name,
         w_warehouse_sq_ft,
         w_city,
         w_county,
         w_state,
         w_country,
         concat('DHL', ',', 'BARIAN') AS ship_carriers,
         d_year AS year,
         CAST(sum(CASE WHEN d_moy = 1
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS jan_sales,
         CAST(sum(CASE WHEN d_moy = 2
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS feb_sales,
         CAST(sum(CASE WHEN d_moy = 3
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS mar_sales,
         CAST(sum(CASE WHEN d_moy = 4
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS apr_sales,
         CAST(sum(CASE WHEN d_moy = 5
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS may_sales,
         CAST(sum(CASE WHEN d_moy = 6
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS jun_sales,
         CAST(sum(CASE WHEN d_moy = 7
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS jul_sales,
         CAST(sum(CASE WHEN d_moy = 8
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS aug_sales,
         CAST(sum(CASE WHEN d_moy = 9
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS sep_sales,
         CAST(sum(CASE WHEN d_moy = 10
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS oct_sales,
         CAST(sum(CASE WHEN d_moy = 11
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS nov_sales,
         CAST(sum(CASE WHEN d_moy = 12
           THEN ws_ext_sales_price * ws_quantity
             ELSE 0 END) AS BIGINT) AS dec_sales,
         CAST(sum(CASE WHEN d_moy = 1
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS jan_net,
         CAST(sum(CASE WHEN d_moy = 2
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS feb_net,
         CAST(sum(CASE WHEN d_moy = 3
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS mar_net,
         CAST(sum(CASE WHEN d_moy = 4
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS apr_net,
         CAST(sum(CASE WHEN d_moy = 5
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS may_net,
         CAST(sum(CASE WHEN d_moy = 6
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS jun_net,
         CAST(sum(CASE WHEN d_moy = 7
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS jul_net,
         CAST(sum(CASE WHEN d_moy = 8
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS aug_net,
         CAST(sum(CASE WHEN d_moy = 9
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS sep_net,
         CAST(sum(CASE WHEN d_moy = 10
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS oct_net,
         CAST(sum(CASE WHEN d_moy = 11
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS nov_net,
         CAST(sum(CASE WHEN d_moy = 12
           THEN ws_net_paid * ws_quantity
             ELSE 0 END) AS BIGINT) AS dec_net
       FROM
         web_sales, warehouse, date_dim, time_dim, ship_mode
       WHERE
         ws_warehouse_sk = w_warehouse_sk
           AND ws_sold_date_sk = d_date_sk
           AND ws_sold_time_sk = t_time_sk
           AND ws_ship_mode_sk = sm_ship_mode_sk
           AND d_year = 2001
           AND t_time BETWEEN 30838 AND 30838 + 28800
           AND sm_carrier IN ('DHL', 'BARIAN')
       GROUP BY
         w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country, d_year)
       UNION ALL
       (SELECT
         w_warehouse_name,
         w_warehouse_sq_ft,
         w_city,
         w_county,
         w_state,
         w_country,
         concat('DHL', ',', 'BARIAN') AS ship_carriers,
         d_year AS year,
         CAST(sum(CASE WHEN d_moy = 1
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS jan_sales,
         CAST(sum(CASE WHEN d_moy = 2
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS feb_sales,
         CAST(sum(CASE WHEN d_moy = 3
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS mar_sales,
         CAST(sum(CASE WHEN d_moy = 4
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS apr_sales,
         CAST(sum(CASE WHEN d_moy = 5
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS may_sales,
         CAST(sum(CASE WHEN d_moy = 6
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS jun_sales,
         CAST(sum(CASE WHEN d_moy = 7
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS jul_sales,
         CAST(sum(CASE WHEN d_moy = 8
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS aug_sales,
         CAST(sum(CASE WHEN d_moy = 9
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS sep_sales,
         CAST(sum(CASE WHEN d_moy = 10
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS oct_sales,
         CAST(sum(CASE WHEN d_moy = 11
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS nov_sales,
         CAST(sum(CASE WHEN d_moy = 12
           THEN cs_sales_price * cs_quantity
             ELSE 0 END) AS BIGINT) AS dec_sales,
         CAST(sum(CASE WHEN d_moy = 1
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS jan_net,
         CAST(sum(CASE WHEN d_moy = 2
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS feb_net,
         CAST(sum(CASE WHEN d_moy = 3
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS mar_net,
         CAST(sum(CASE WHEN d_moy = 4
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS apr_net,
         CAST(sum(CASE WHEN d_moy = 5
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS may_net,
         CAST(sum(CASE WHEN d_moy = 6
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS jun_net,
         CAST(sum(CASE WHEN d_moy = 7
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS jul_net,
         CAST(sum(CASE WHEN d_moy = 8
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS aug_net,
         CAST(sum(CASE WHEN d_moy = 9
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS sep_net,
         CAST(sum(CASE WHEN d_moy = 10
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS oct_net,
         CAST(sum(CASE WHEN d_moy = 11
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS nov_net,
         CAST(sum(CASE WHEN d_moy = 12
           THEN cs_net_paid_inc_tax * cs_quantity
             ELSE 0 END) AS BIGINT) AS dec_net
       FROM
         catalog_sales, warehouse, date_dim, time_dim, ship_mode
       WHERE
         cs_warehouse_sk = w_warehouse_sk
           AND cs_sold_date_sk = d_date_sk
           AND cs_sold_time_sk = t_time_sk
           AND cs_ship_mode_sk = sm_ship_mode_sk
           AND d_year = 2001
           AND t_time BETWEEN 30838 AND 30838 + 28800
           AND sm_carrier IN ('DHL', 'BARIAN')
       GROUP BY
         w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country, d_year
       )
     ) x
GROUP BY
  w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country,
  ship_carriers, year
ORDER BY w_warehouse_name
LIMIT 100
"""

# --- q67: rolled-up store sales ranked within category ---------------------
TPCDS_TEXTS["tpcds_q67"] = """
SELECT *
FROM
  (SELECT
    i_category,
    i_class,
    i_brand,
    i_product_name,
    d_year,
    d_qoy,
    d_moy,
    s_store_id,
    sumsales,
    rank()
    OVER (PARTITION BY i_category
      ORDER BY sumsales DESC) rk
  FROM
    (SELECT
      i_category,
      i_class,
      i_brand,
      i_product_name,
      d_year,
      d_qoy,
      d_moy,
      s_store_id,
      CAST(sum(coalesce(ss_sales_price * ss_quantity, 0)) AS BIGINT) sumsales
    FROM store_sales, date_dim, store, item
    WHERE ss_sold_date_sk = d_date_sk
      AND ss_item_sk = i_item_sk
      AND ss_store_sk = s_store_sk
      AND d_month_seq BETWEEN 1200 AND 1200 + 11
    GROUP BY ROLLUP (i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
      d_moy, s_store_id)) dw1) dw2
WHERE rk <= 100
ORDER BY
  i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST,
  i_product_name NULLS FIRST, d_year NULLS FIRST,
  d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales, rk
LIMIT 100
"""

# --- q68: two-city big-basket customers -----------------------------------
TPCDS_TEXTS["tpcds_q68"] = """
SELECT
  c_last_name,
  c_first_name,
  ca_city,
  bought_city,
  ss_ticket_number,
  extended_price,
  extended_tax,
  list_price
FROM (SELECT
  ss_ticket_number,
  ss_customer_sk,
  ca_city bought_city,
  CAST(sum(ss_ext_sales_price) AS BIGINT) extended_price,
  CAST(sum(ss_ext_list_price) AS BIGINT) list_price,
  CAST(sum(ss_ext_tax) AS BIGINT) extended_tax
FROM store_sales, date_dim, store, household_demographics, customer_address
WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
  AND store_sales.ss_store_sk = store.s_store_sk
  AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
  AND store_sales.ss_addr_sk = customer_address.ca_address_sk
  AND date_dim.d_dom BETWEEN 1 AND 2
  AND (household_demographics.hd_dep_count = 4 OR
  household_demographics.hd_vehicle_count = 3)
  AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
  AND store.s_city IN ('Midway', 'Fairview')
GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, ca_city) dn,
  customer,
  customer_address current_addr
WHERE ss_customer_sk = c_customer_sk
  AND customer.c_current_addr_sk = current_addr.ca_address_sk
  AND current_addr.ca_city <> bought_city
ORDER BY c_last_name, ss_ticket_number
LIMIT 100
"""

# --- q69: store-only shoppers by demographics ------------------------------
TPCDS_TEXTS["tpcds_q69"] = """
SELECT
  cd_gender,
  cd_marital_status,
  cd_education_status,
  count(*) cnt1,
  cd_purchase_estimate,
  count(*) cnt2,
  cd_credit_rating,
  count(*) cnt3
FROM
  customer c, customer_address ca, customer_demographics
WHERE
  c.c_current_addr_sk = ca.ca_address_sk AND
    ca_state IN ('KY', 'GA', 'NM') AND
    cd_demo_sk = c.c_current_cdemo_sk AND
    exists(SELECT *
           FROM store_sales, date_dim
           WHERE c.c_customer_sk = ss_customer_sk AND
             ss_sold_date_sk = d_date_sk AND
             d_year = 2001 AND
             d_moy BETWEEN 4 AND 4 + 2) AND
    (NOT exists(SELECT *
                FROM web_sales, date_dim
                WHERE c.c_customer_sk = ws_bill_customer_sk AND
                  ws_sold_date_sk = d_date_sk AND
                  d_year = 2001 AND
                  d_moy BETWEEN 4 AND 4 + 2) AND
      NOT exists(SELECT *
                 FROM catalog_sales, date_dim
                 WHERE c.c_customer_sk = cs_ship_customer_sk AND
                   cs_sold_date_sk = d_date_sk AND
                   d_year = 2001 AND
                   d_moy BETWEEN 4 AND 4 + 2))
GROUP BY cd_gender, cd_marital_status, cd_education_status,
  cd_purchase_estimate, cd_credit_rating
ORDER BY cd_gender, cd_marital_status, cd_education_status,
  cd_purchase_estimate, cd_credit_rating
LIMIT 100
"""

# --- q70: state/county profit rollup ranked within parent ------------------
TPCDS_TEXTS["tpcds_q70"] = """
SELECT
  CAST(sum(ss_net_profit) AS BIGINT) AS total_sum,
  s_state,
  s_county,
  grouping(s_state) + grouping(s_county) AS lochierarchy,
  rank()
  OVER (
    PARTITION BY grouping(s_state) + grouping(s_county),
      CASE WHEN grouping(s_county) = 0
        THEN s_state END
    ORDER BY sum(ss_net_profit) DESC) AS rank_within_parent
FROM
  store_sales, date_dim d1, store
WHERE
  d1.d_month_seq BETWEEN 1200 AND 1200 + 11
    AND d1.d_date_sk = ss_sold_date_sk
    AND s_store_sk = ss_store_sk
    AND s_state IN
    (SELECT s_state
    FROM
      (SELECT
        s_state AS s_state,
        rank()
        OVER (PARTITION BY s_state
          ORDER BY sum(ss_net_profit) DESC) AS ranking
      FROM store_sales, store, date_dim
      WHERE d_month_seq BETWEEN 1200 AND 1200 + 11
        AND d_date_sk = ss_sold_date_sk
        AND s_store_sk = ss_store_sk
      GROUP BY s_state) tmp1
    WHERE ranking <= 5)
GROUP BY ROLLUP (s_state, s_county)
ORDER BY
  lochierarchy DESC
  , CASE WHEN lochierarchy = 0
  THEN s_state END NULLS FIRST
  , rank_within_parent
  , s_state NULLS FIRST
  , s_county NULLS FIRST
LIMIT 100
"""


# --- q71: brand sales at breakfast/dinner across channels (no LIMIT) ------
TPCDS_TEXTS["tpcds_q71"] = """
SELECT
  i_brand_id brand_id,
  i_brand brand,
  t_hour,
  t_minute,
  CAST(sum(ext_price) AS BIGINT) ext_price
FROM item,
  (SELECT
     ws_ext_sales_price AS ext_price,
     ws_sold_date_sk AS sold_date_sk,
     ws_item_sk AS sold_item_sk,
     ws_sold_time_sk AS time_sk
   FROM web_sales, date_dim
   WHERE d_date_sk = ws_sold_date_sk
     AND d_moy = 11
     AND d_year = 1999
   UNION ALL
   SELECT
     cs_ext_sales_price AS ext_price,
     cs_sold_date_sk AS sold_date_sk,
     cs_item_sk AS sold_item_sk,
     cs_sold_time_sk AS time_sk
   FROM catalog_sales, date_dim
   WHERE d_date_sk = cs_sold_date_sk
     AND d_moy = 11
     AND d_year = 1999
   UNION ALL
   SELECT
     ss_ext_sales_price AS ext_price,
     ss_sold_date_sk AS sold_date_sk,
     ss_item_sk AS sold_item_sk,
     ss_sold_time_sk AS time_sk
   FROM store_sales, date_dim
   WHERE d_date_sk = ss_sold_date_sk
     AND d_moy = 11
     AND d_year = 1999
  ) AS tmp, time_dim
WHERE
  sold_item_sk = i_item_sk
    AND i_manager_id = 1
    AND time_sk = t_time_sk
    AND (t_meal_time = 'breakfast' OR t_meal_time = 'dinner')
GROUP BY i_brand, i_brand_id, t_hour, t_minute
ORDER BY ext_price DESC, brand_id
"""

# --- q72: catalog orders shipped late vs inventory shortfall ---------------
TPCDS_TEXTS["tpcds_q72"] = """
SELECT
  i_item_desc,
  w_warehouse_name,
  d1.d_week_seq,
  count(CASE WHEN p_promo_sk IS NULL
    THEN 1
        ELSE 0 END) no_promo,
  count(CASE WHEN p_promo_sk IS NOT NULL
    THEN 1
        ELSE 0 END) promo,
  count(*) total_cnt
FROM catalog_sales
  JOIN inventory ON (cs_item_sk = inv_item_sk)
  JOIN warehouse ON (w_warehouse_sk = inv_warehouse_sk)
  JOIN item ON (i_item_sk = cs_item_sk)
  JOIN customer_demographics ON (cs_bill_cdemo_sk = cd_demo_sk)
  JOIN household_demographics ON (cs_bill_hdemo_sk = hd_demo_sk)
  JOIN date_dim d1 ON (cs_sold_date_sk = d1.d_date_sk)
  JOIN date_dim d2 ON (inv_date_sk = d2.d_date_sk)
  JOIN date_dim d3 ON (cs_ship_date_sk = d3.d_date_sk)
  LEFT OUTER JOIN promotion ON (cs_promo_sk = p_promo_sk)
  LEFT OUTER JOIN catalog_returns ON (cr_item_sk = cs_item_sk AND cr_order_number = cs_order_number)
WHERE d1.d_week_seq = d2.d_week_seq
  AND inv_quantity_on_hand < cs_quantity
  AND d3.d_date > (cast(d1.d_date AS DATE) + interval '5' DAY)
  AND hd_buy_potential = '>10000'
  AND d1.d_year = 1999
  AND hd_buy_potential = '>10000'
  AND cd_marital_status = 'D'
  AND d1.d_year = 1999
GROUP BY i_item_desc, w_warehouse_name, d1.d_week_seq
ORDER BY total_cnt DESC, i_item_desc, w_warehouse_name, d1.d_week_seq
LIMIT 100
"""

# --- q73: frequent small-basket customers (no LIMIT) -----------------------
TPCDS_TEXTS["tpcds_q73"] = """
SELECT
  c_last_name,
  c_first_name,
  c_salutation,
  c_preferred_cust_flag,
  ss_ticket_number,
  cnt
FROM
  (SELECT
    ss_ticket_number,
    ss_customer_sk,
    count(*) cnt
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND date_dim.d_dom BETWEEN 1 AND 2
    AND (household_demographics.hd_buy_potential = '>10000' OR
    household_demographics.hd_buy_potential = 'unknown')
    AND household_demographics.hd_vehicle_count > 0
    AND CASE WHEN household_demographics.hd_vehicle_count > 0
    THEN
      household_demographics.hd_dep_count / household_demographics.hd_vehicle_count
        ELSE NULL END > 1
    AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
    AND store.s_county IN ('Williamson County', 'Franklin Parish', 'Bronx County', 'Orange County')
  GROUP BY ss_ticket_number, ss_customer_sk) dj, customer
WHERE ss_customer_sk = c_customer_sk
  AND cnt BETWEEN 1 AND 5
ORDER BY cnt DESC
"""

# --- q74: customers growing web faster than store (year_total ratio) -------
TPCDS_TEXTS["tpcds_q74"] = """
WITH year_total AS (
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    d_year AS year,
    sum(ss_net_paid) year_total,
    's' sale_type
  FROM
    customer, store_sales, date_dim
  WHERE c_customer_sk = ss_customer_sk
    AND ss_sold_date_sk = d_date_sk
    AND d_year IN (2001, 2001 + 1)
  GROUP BY
    c_customer_id, c_first_name, c_last_name, d_year
  UNION ALL
  SELECT
    c_customer_id customer_id,
    c_first_name customer_first_name,
    c_last_name customer_last_name,
    d_year AS year,
    sum(ws_net_paid) year_total,
    'w' sale_type
  FROM
    customer, web_sales, date_dim
  WHERE c_customer_sk = ws_bill_customer_sk
    AND ws_sold_date_sk = d_date_sk
    AND d_year IN (2001, 2001 + 1)
  GROUP BY
    c_customer_id, c_first_name, c_last_name, d_year)
SELECT
  t_s_secyear.customer_id,
  t_s_secyear.customer_first_name,
  t_s_secyear.customer_last_name
FROM
  year_total t_s_firstyear, year_total t_s_secyear,
  year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.sale_type = 's'
  AND t_w_firstyear.sale_type = 'w'
  AND t_s_secyear.sale_type = 's'
  AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.year = 2001
  AND t_s_secyear.year = 2001 + 1
  AND t_w_firstyear.year = 2001
  AND t_w_secyear.year = 2001 + 1
  AND t_s_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND CASE WHEN t_w_firstyear.year_total > 0
  THEN t_w_secyear.year_total / t_w_firstyear.year_total
      ELSE NULL END
  > CASE WHEN t_s_firstyear.year_total > 0
  THEN t_s_secyear.year_total / t_s_firstyear.year_total
    ELSE NULL END
ORDER BY 1, 1, 1
LIMIT 100
"""

# --- q75: Books year-over-year unit decline (round/DECIMAL pinned) ---------
# CAST(... AS DECIMAL(17,2)) ratio filter pinned to DOUBLE (same policy
# as q61: engines assign different decimal-division scales).
TPCDS_TEXTS["tpcds_q75"] = """
WITH all_sales AS (
  SELECT
    d_year,
    i_brand_id,
    i_class_id,
    i_category_id,
    i_manufact_id,
    CAST(SUM(sales_cnt) AS BIGINT) AS sales_cnt,
    SUM(sales_amt) AS sales_amt
  FROM (
         SELECT
           d_year,
           i_brand_id,
           i_class_id,
           i_category_id,
           i_manufact_id,
           cs_quantity - COALESCE(cr_return_quantity, 0) AS sales_cnt,
           cs_ext_sales_price - COALESCE(cr_return_amount, 0.0) AS sales_amt
         FROM catalog_sales
           JOIN item ON i_item_sk = cs_item_sk
           JOIN date_dim ON d_date_sk = cs_sold_date_sk
           LEFT JOIN catalog_returns ON (cs_order_number = cr_order_number
             AND cs_item_sk = cr_item_sk)
         WHERE i_category = 'Books'
         UNION
         SELECT
           d_year,
           i_brand_id,
           i_class_id,
           i_category_id,
           i_manufact_id,
           ss_quantity - COALESCE(sr_return_quantity, 0) AS sales_cnt,
           ss_ext_sales_price - COALESCE(sr_return_amt, 0.0) AS sales_amt
         FROM store_sales
           JOIN item ON i_item_sk = ss_item_sk
           JOIN date_dim ON d_date_sk = ss_sold_date_sk
           LEFT JOIN store_returns ON (ss_ticket_number = sr_ticket_number
             AND ss_item_sk = sr_item_sk)
         WHERE i_category = 'Books'
         UNION
         SELECT
           d_year,
           i_brand_id,
           i_class_id,
           i_category_id,
           i_manufact_id,
           ws_quantity - COALESCE(wr_return_quantity, 0) AS sales_cnt,
           ws_ext_sales_price - COALESCE(wr_return_amt, 0.0) AS sales_amt
         FROM web_sales
           JOIN item ON i_item_sk = ws_item_sk
           JOIN date_dim ON d_date_sk = ws_sold_date_sk
           LEFT JOIN web_returns ON (ws_order_number = wr_order_number
             AND ws_item_sk = wr_item_sk)
         WHERE i_category = 'Books') sales_detail
  GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
SELECT
  prev_yr.d_year AS prev_year,
  curr_yr.d_year AS year,
  curr_yr.i_brand_id,
  curr_yr.i_class_id,
  curr_yr.i_category_id,
  curr_yr.i_manufact_id,
  prev_yr.sales_cnt AS prev_yr_cnt,
  curr_yr.sales_cnt AS curr_yr_cnt,
  curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
  curr_yr.sales_amt - prev_yr.sales_amt AS sales_amt_diff
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.i_brand_id = prev_yr.i_brand_id
  AND curr_yr.i_class_id = prev_yr.i_class_id
  AND curr_yr.i_category_id = prev_yr.i_category_id
  AND curr_yr.i_manufact_id = prev_yr.i_manufact_id
  AND curr_yr.d_year = 2002
  AND prev_yr.d_year = 2002 - 1
  AND CAST(curr_yr.sales_cnt AS DOUBLE) / nullif(CAST(prev_yr.sales_cnt AS DOUBLE), 0.0) < 0.9
ORDER BY sales_cnt_diff, curr_yr.i_brand_id, curr_yr.i_class_id,
  curr_yr.i_category_id, curr_yr.i_manufact_id
LIMIT 100
"""

# --- q76: sales with NULL channel keys --------------------------------------
TPCDS_TEXTS["tpcds_q76"] = """
SELECT
  channel,
  col_name,
  d_year,
  d_qoy,
  i_category,
  COUNT(*) sales_cnt,
  CAST(SUM(ext_sales_price) AS BIGINT) sales_amt
FROM (
       SELECT
         'store' AS channel,
         ss_store_sk col_name,
         d_year,
         d_qoy,
         i_category,
         ss_ext_sales_price ext_sales_price
       FROM store_sales, item, date_dim
       WHERE ss_store_sk IS NULL
         AND ss_sold_date_sk = d_date_sk
         AND ss_item_sk = i_item_sk
       UNION ALL
       SELECT
         'web' AS channel,
         ws_ship_customer_sk col_name,
         d_year,
         d_qoy,
         i_category,
         ws_ext_sales_price ext_sales_price
       FROM web_sales, item, date_dim
       WHERE ws_ship_customer_sk IS NULL
         AND ws_sold_date_sk = d_date_sk
         AND ws_item_sk = i_item_sk
       UNION ALL
       SELECT
         'catalog' AS channel,
         cs_ship_addr_sk col_name,
         d_year,
         d_qoy,
         i_category,
         cs_ext_sales_price ext_sales_price
       FROM catalog_sales, item, date_dim
       WHERE cs_ship_addr_sk IS NULL
         AND cs_sold_date_sk = d_date_sk
         AND cs_item_sk = i_item_sk) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name NULLS FIRST, d_year, d_qoy, i_category
LIMIT 100
"""

# --- q77: channel P&L rollup over a 30-day window --------------------------
TPCDS_TEXTS["tpcds_q77"] = """
WITH ss AS
(SELECT
    s_store_sk,
    CAST(sum(ss_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(ss_net_profit) AS BIGINT) AS profit
  FROM store_sales, date_dim, store
  WHERE ss_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)
    AND ss_store_sk = s_store_sk
  GROUP BY s_store_sk),
    sr AS
  (SELECT
    s_store_sk,
    CAST(sum(sr_return_amt) AS BIGINT) AS returns,
    CAST(sum(sr_net_loss) AS BIGINT) AS profit_loss
  FROM store_returns, date_dim, store
  WHERE sr_returned_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)
    AND sr_store_sk = s_store_sk
  GROUP BY s_store_sk),
    cs AS
  (SELECT
    cs_call_center_sk,
    CAST(sum(cs_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(cs_net_profit) AS BIGINT) AS profit
  FROM catalog_sales, date_dim
  WHERE cs_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)
  GROUP BY cs_call_center_sk),
    cr AS
  (SELECT
    CAST(sum(cr_return_amount) AS BIGINT) AS returns,
    CAST(sum(cr_net_loss) AS BIGINT) AS profit_loss
  FROM catalog_returns, date_dim
  WHERE cr_returned_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)),
    ws AS
  (SELECT
    wp_web_page_sk,
    CAST(sum(ws_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(ws_net_profit) AS BIGINT) AS profit
  FROM web_sales, date_dim, web_page
  WHERE ws_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)
    AND ws_web_page_sk = wp_web_page_sk
  GROUP BY wp_web_page_sk),
    wr AS
  (SELECT
    wp_web_page_sk,
    CAST(sum(wr_return_amt) AS BIGINT) AS returns,
    CAST(sum(wr_net_loss) AS BIGINT) AS profit_loss
  FROM web_returns, date_dim, web_page
  WHERE wr_returned_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-03' AS DATE) AND
  (cast('2000-08-03' AS DATE) + INTERVAL '30' DAY)
    AND wr_web_page_sk = wp_web_page_sk
  GROUP BY wp_web_page_sk)
SELECT
  channel,
  id,
  CAST(sum(sales) AS BIGINT) AS sales,
  CAST(sum(returns) AS BIGINT) AS returns,
  CAST(sum(profit) AS BIGINT) AS profit
FROM
  (SELECT
     'store channel' AS channel,
     ss.s_store_sk AS id,
     sales,
     coalesce(returns, 0) AS returns,
     (profit - coalesce(profit_loss, 0)) AS profit
   FROM ss
     LEFT JOIN sr
       ON ss.s_store_sk = sr.s_store_sk
   UNION ALL
   SELECT
     'catalog channel' AS channel,
     cs_call_center_sk AS id,
     sales,
     returns,
     (profit - profit_loss) AS profit
   FROM cs, cr
   UNION ALL
   SELECT
     'web channel' AS channel,
     ws.wp_web_page_sk AS id,
     sales,
     coalesce(returns, 0) AS returns,
     (profit - coalesce(profit_loss, 0)) AS profit
   FROM ws
     LEFT JOIN wr
       ON ws.wp_web_page_sk = wr.wp_web_page_sk
  ) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
"""

# --- q78: store loyalty vs other channels (round() pinned) ------------------
# round(x, 2) pinned to floor(x*100 + 0.5)/100: engines disagree on
# banker's-vs-away rounding of doubles; the floor form is one IEEE
# expression evaluated identically on both (x is non-negative here).
TPCDS_TEXTS["tpcds_q78"] = """
WITH ws AS
(SELECT
    d_year AS ws_sold_year,
    ws_item_sk,
    ws_bill_customer_sk ws_customer_sk,
    CAST(sum(ws_quantity) AS BIGINT) ws_qty,
    CAST(sum(ws_wholesale_cost) AS BIGINT) ws_wc,
    CAST(sum(ws_sales_price) AS BIGINT) ws_sp
  FROM web_sales
    LEFT JOIN web_returns ON wr_order_number = ws_order_number AND ws_item_sk = wr_item_sk
    JOIN date_dim ON ws_sold_date_sk = d_date_sk
  WHERE wr_order_number IS NULL
  GROUP BY d_year, ws_item_sk, ws_bill_customer_sk
),
    cs AS
  (SELECT
    d_year AS cs_sold_year,
    cs_item_sk,
    cs_bill_customer_sk cs_customer_sk,
    CAST(sum(cs_quantity) AS BIGINT) cs_qty,
    CAST(sum(cs_wholesale_cost) AS BIGINT) cs_wc,
    CAST(sum(cs_sales_price) AS BIGINT) cs_sp
  FROM catalog_sales
    LEFT JOIN catalog_returns ON cr_order_number = cs_order_number AND cs_item_sk = cr_item_sk
    JOIN date_dim ON cs_sold_date_sk = d_date_sk
  WHERE cr_order_number IS NULL
  GROUP BY d_year, cs_item_sk, cs_bill_customer_sk
  ),
    ss AS
  (SELECT
    d_year AS ss_sold_year,
    ss_item_sk,
    ss_customer_sk,
    CAST(sum(ss_quantity) AS BIGINT) ss_qty,
    CAST(sum(ss_wholesale_cost) AS BIGINT) ss_wc,
    CAST(sum(ss_sales_price) AS BIGINT) ss_sp
  FROM store_sales
    LEFT JOIN store_returns ON sr_ticket_number = ss_ticket_number AND ss_item_sk = sr_item_sk
    JOIN date_dim ON ss_sold_date_sk = d_date_sk
  WHERE sr_ticket_number IS NULL
  GROUP BY d_year, ss_item_sk, ss_customer_sk
  )
SELECT
  floor(ss_qty / (coalesce(ws_qty + cs_qty, 1)) * 100 + 0.5) / 100 ratio,
  ss_qty store_qty,
  ss_wc store_wholesale_cost,
  ss_sp store_sales_price,
  coalesce(ws_qty, 0) + coalesce(cs_qty, 0) other_chan_qty,
  coalesce(ws_wc, 0) + coalesce(cs_wc, 0) other_chan_wholesale_cost,
  coalesce(ws_sp, 0) + coalesce(cs_sp, 0) other_chan_sales_price
FROM ss
  LEFT JOIN ws
    ON (ws_sold_year = ss_sold_year AND ws_item_sk = ss_item_sk AND ws_customer_sk = ss_customer_sk)
  LEFT JOIN cs
    ON (cs_sold_year = ss_sold_year AND cs_item_sk = ss_item_sk AND cs_customer_sk = ss_customer_sk)
WHERE coalesce(ws_qty, 0) > 0 AND coalesce(cs_qty, 0) > 0 AND ss_sold_year = 2000
ORDER BY
  ratio,
  ss_qty DESC, ss_wc DESC, ss_sp DESC,
  other_chan_qty,
  other_chan_wholesale_cost,
  other_chan_sales_price,
  floor(ss_qty / (coalesce(ws_qty + cs_qty, 1)) * 100 + 0.5) / 100
LIMIT 100
"""

# --- q79: Monday big-coupon baskets (substr aliased, tie-breaks) ------------
TPCDS_TEXTS["tpcds_q79"] = """
SELECT
  c_last_name,
  c_first_name,
  substr(s_city, 1, 30) AS s_city_30,
  ss_ticket_number,
  amt,
  profit
FROM
  (SELECT
    ss_ticket_number,
    ss_customer_sk,
    store.s_city,
    CAST(sum(ss_coupon_amt) AS BIGINT) amt,
    CAST(sum(ss_net_profit) AS BIGINT) profit
  FROM store_sales, date_dim, store, household_demographics
  WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
    AND store_sales.ss_store_sk = store.s_store_sk
    AND store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
    AND (household_demographics.hd_dep_count = 6 OR
    household_demographics.hd_vehicle_count > 2)
    AND date_dim.d_dow = 1
    AND date_dim.d_year IN (1999, 1999 + 1, 1999 + 2)
    AND store.s_number_employees BETWEEN 200 AND 295
  GROUP BY ss_ticket_number, ss_customer_sk, ss_addr_sk, store.s_city) ms, customer
WHERE ss_customer_sk = c_customer_sk
ORDER BY c_last_name, c_first_name, substr(s_city, 1, 30), profit,
  ss_ticket_number
LIMIT 100
"""

# --- q80: channel P&L for promoted premium items ----------------------------
TPCDS_TEXTS["tpcds_q80"] = """
WITH ssr AS
(SELECT
    s_store_id AS store_id,
    CAST(sum(ss_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(coalesce(sr_return_amt, 0)) AS BIGINT) AS returns,
    CAST(sum(ss_net_profit - coalesce(sr_net_loss, 0)) AS BIGINT) AS profit
  FROM store_sales
    LEFT OUTER JOIN store_returns ON
                                    (ss_item_sk = sr_item_sk AND
                                      ss_ticket_number = sr_ticket_number)
    ,
    date_dim, store, item, promotion
  WHERE ss_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND (cast('2000-08-23' AS DATE) + INTERVAL '30' DAY)
    AND ss_store_sk = s_store_sk
    AND ss_item_sk = i_item_sk
    AND i_current_price > 50
    AND ss_promo_sk = p_promo_sk
    AND p_channel_tv = 'N'
  GROUP BY s_store_id),
    csr AS
  (SELECT
    cp_catalog_page_id AS catalog_page_id,
    CAST(sum(cs_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(coalesce(cr_return_amount, 0)) AS BIGINT) AS returns,
    CAST(sum(cs_net_profit - coalesce(cr_net_loss, 0)) AS BIGINT) AS profit
  FROM catalog_sales
    LEFT OUTER JOIN catalog_returns ON
                                      (cs_item_sk = cr_item_sk AND
                                        cs_order_number = cr_order_number)
    ,
    date_dim, catalog_page, item, promotion
  WHERE cs_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND (cast('2000-08-23' AS DATE) + INTERVAL '30' DAY)
    AND cs_catalog_page_sk = cp_catalog_page_sk
    AND cs_item_sk = i_item_sk
    AND i_current_price > 50
    AND cs_promo_sk = p_promo_sk
    AND p_channel_tv = 'N'
  GROUP BY cp_catalog_page_id),
    wsr AS
  (SELECT
    web_site_id,
    CAST(sum(ws_ext_sales_price) AS BIGINT) AS sales,
    CAST(sum(coalesce(wr_return_amt, 0)) AS BIGINT) AS returns,
    CAST(sum(ws_net_profit - coalesce(wr_net_loss, 0)) AS BIGINT) AS profit
  FROM web_sales
    LEFT OUTER JOIN web_returns ON
                                  (ws_item_sk = wr_item_sk AND ws_order_number = wr_order_number)
    ,
    date_dim, web_site, item, promotion
  WHERE ws_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('2000-08-23' AS DATE)
  AND (cast('2000-08-23' AS DATE) + INTERVAL '30' DAY)
    AND ws_web_site_sk = web_site_sk
    AND ws_item_sk = i_item_sk
    AND i_current_price > 50
    AND ws_promo_sk = p_promo_sk
    AND p_channel_tv = 'N'
  GROUP BY web_site_id)
SELECT
  channel,
  id,
  CAST(sum(sales) AS BIGINT) AS sales,
  CAST(sum(returns) AS BIGINT) AS returns,
  CAST(sum(profit) AS BIGINT) AS profit
FROM (SELECT
        'store channel' AS channel,
        concat('store', store_id) AS id,
        sales,
        returns,
        profit
      FROM ssr
      UNION ALL
      SELECT
        'catalog channel' AS channel,
        concat('catalog_page', catalog_page_id) AS id,
        sales,
        returns,
        profit
      FROM csr
      UNION ALL
      SELECT
        'web channel' AS channel,
        concat('web_site', web_site_id) AS id,
        sales,
        returns,
        profit
      FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
"""


# --- q81: GA customers returning far above state average -------------------
TPCDS_TEXTS["tpcds_q81"] = """
WITH customer_total_return AS
(SELECT
    cr_returning_customer_sk AS ctr_customer_sk,
    ca_state AS ctr_state,
    CAST(sum(cr_return_amt_inc_tax) AS BIGINT) AS ctr_total_return
  FROM catalog_returns, date_dim, customer_address
  WHERE cr_returned_date_sk = d_date_sk
    AND d_year = 2000
    AND cr_returning_addr_sk = ca_address_sk
  GROUP BY cr_returning_customer_sk, ca_state )
SELECT
  c_customer_id,
  c_salutation,
  c_first_name,
  c_last_name,
  ca_street_number,
  ca_street_name,
  ca_street_type,
  ca_suite_number,
  ca_city,
  ca_county,
  ca_state,
  ca_zip,
  ca_country,
  ca_gmt_offset,
  ca_location_type,
  ctr_total_return
FROM customer_total_return ctr1, customer_address, customer
WHERE ctr1.ctr_total_return > (SELECT avg(ctr_total_return) * 1.2
FROM customer_total_return ctr2
WHERE ctr1.ctr_state = ctr2.ctr_state)
  AND ca_address_sk = c_current_addr_sk
  AND ca_state = 'GA'
  AND ctr1.ctr_customer_sk = c_customer_sk
ORDER BY c_customer_id, c_salutation, c_first_name, c_last_name, ca_street_number, ca_street_name
  , ca_street_type, ca_suite_number, ca_city, ca_county, ca_state, ca_zip, ca_country, ca_gmt_offset
  , ca_location_type, ctr_total_return
LIMIT 100
"""

# --- q82: well-stocked premium items also sold in store ---------------------
TPCDS_TEXTS["tpcds_q82"] = """
SELECT
  i_item_id,
  i_item_desc,
  i_current_price
FROM item, inventory, date_dim, store_sales
WHERE i_current_price BETWEEN 62 AND 62 + 30
  AND inv_item_sk = i_item_sk
  AND d_date_sk = inv_date_sk
  AND d_date BETWEEN cast('2000-05-25' AS DATE) AND (cast('2000-05-25' AS DATE) + INTERVAL '60' DAY)
  AND i_manufact_id IN (869, 37, 788, 609)
  AND inv_quantity_on_hand BETWEEN 100 AND 500
  AND ss_item_sk = i_item_sk
GROUP BY i_item_id, i_item_desc, i_current_price
ORDER BY i_item_id
LIMIT 100
"""

# --- q83: return quantities balanced across channels ------------------------
TPCDS_TEXTS["tpcds_q83"] = """
WITH sr_items AS
(SELECT
    i_item_id item_id,
    CAST(sum(sr_return_quantity) AS BIGINT) sr_item_qty
  FROM store_returns, item, date_dim
  WHERE sr_item_sk = i_item_sk
    AND d_date IN (SELECT d_date
  FROM date_dim
  WHERE d_week_seq IN
    (SELECT d_week_seq
    FROM date_dim
    WHERE d_date IN (CAST('2000-06-30' AS DATE), CAST('2000-09-27' AS DATE), CAST('2000-11-17' AS DATE))))
    AND sr_returned_date_sk = d_date_sk
  GROUP BY i_item_id),
    cr_items AS
  (SELECT
    i_item_id item_id,
    CAST(sum(cr_return_quantity) AS BIGINT) cr_item_qty
  FROM catalog_returns, item, date_dim
  WHERE cr_item_sk = i_item_sk
    AND d_date IN (SELECT d_date
  FROM date_dim
  WHERE d_week_seq IN
    (SELECT d_week_seq
    FROM date_dim
    WHERE d_date IN (CAST('2000-06-30' AS DATE), CAST('2000-09-27' AS DATE), CAST('2000-11-17' AS DATE))))
    AND cr_returned_date_sk = d_date_sk
  GROUP BY i_item_id),
    wr_items AS
  (SELECT
    i_item_id item_id,
    CAST(sum(wr_return_quantity) AS BIGINT) wr_item_qty
  FROM web_returns, item, date_dim
  WHERE wr_item_sk = i_item_sk AND d_date IN
    (SELECT d_date
    FROM date_dim
    WHERE d_week_seq IN
      (SELECT d_week_seq
      FROM date_dim
      WHERE d_date IN (CAST('2000-06-30' AS DATE), CAST('2000-09-27' AS DATE), CAST('2000-11-17' AS DATE))))
    AND wr_returned_date_sk = d_date_sk
  GROUP BY i_item_id)
SELECT
  sr_items.item_id,
  sr_item_qty,
  sr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 sr_dev,
  cr_item_qty,
  cr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 cr_dev,
  wr_item_qty,
  wr_item_qty / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100 wr_dev,
  (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 average
FROM sr_items, cr_items, wr_items
WHERE sr_items.item_id = cr_items.item_id
  AND sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id, sr_item_qty
LIMIT 100
"""

# --- q84: Edgewood customers in an income band with returns -----------------
TPCDS_TEXTS["tpcds_q84"] = """
SELECT
  c_customer_id AS customer_id,
  concat(c_last_name, ', ', c_first_name) AS customername
FROM customer
  , customer_address
  , customer_demographics
  , household_demographics
  , income_band
  , store_returns
WHERE ca_city = 'Edgewood'
  AND c_current_addr_sk = ca_address_sk
  AND ib_lower_bound >= 38128
  AND ib_upper_bound <= 38128 + 50000
  AND ib_income_band_sk = hd_income_band_sk
  AND cd_demo_sk = c_current_cdemo_sk
  AND hd_demo_sk = c_current_hdemo_sk
  AND sr_cdemo_sk = cd_demo_sk
ORDER BY c_customer_id
LIMIT 100
"""

# --- q85: web return reasons by demographic band (aliases added) ------------
TPCDS_TEXTS["tpcds_q85"] = """
SELECT
  substr(r_reason_desc, 1, 20) AS r_reason_desc_20,
  avg(ws_quantity) AS avg_ws_quantity,
  avg(wr_refunded_cash) AS avg_wr_refunded_cash,
  avg(wr_fee) AS avg_wr_fee
FROM web_sales, web_returns, web_page, customer_demographics cd1,
  customer_demographics cd2, customer_address, date_dim, reason
WHERE ws_web_page_sk = wp_web_page_sk
  AND ws_item_sk = wr_item_sk
  AND ws_order_number = wr_order_number
  AND ws_sold_date_sk = d_date_sk AND d_year = 2000
  AND cd1.cd_demo_sk = wr_refunded_cdemo_sk
  AND cd2.cd_demo_sk = wr_returning_cdemo_sk
  AND ca_address_sk = wr_refunded_addr_sk
  AND r_reason_sk = wr_reason_sk
  AND
  (
    (
      cd1.cd_marital_status = 'M'
        AND
        cd1.cd_marital_status = cd2.cd_marital_status
        AND
        cd1.cd_education_status = 'Advanced Degree'
        AND
        cd1.cd_education_status = cd2.cd_education_status
        AND
        ws_sales_price BETWEEN 100.00 AND 150.00
    )
      OR
      (
        cd1.cd_marital_status = 'S'
          AND
          cd1.cd_marital_status = cd2.cd_marital_status
          AND
          cd1.cd_education_status = 'College'
          AND
          cd1.cd_education_status = cd2.cd_education_status
          AND
          ws_sales_price BETWEEN 50.00 AND 100.00
      )
      OR
      (
        cd1.cd_marital_status = 'W'
          AND
          cd1.cd_marital_status = cd2.cd_marital_status
          AND
          cd1.cd_education_status = '2 yr Degree'
          AND
          cd1.cd_education_status = cd2.cd_education_status
          AND
          ws_sales_price BETWEEN 150.00 AND 200.00
      )
  )
  AND
  (
    (
      ca_country = 'United States'
        AND
        ca_state IN ('IN', 'OH', 'NJ')
        AND ws_net_profit BETWEEN 100 AND 200
    )
      OR
      (
        ca_country = 'United States'
          AND
          ca_state IN ('WI', 'CT', 'KY')
          AND ws_net_profit BETWEEN 150 AND 300
      )
      OR
      (
        ca_country = 'United States'
          AND
          ca_state IN ('LA', 'IA', 'AR')
          AND ws_net_profit BETWEEN 50 AND 250
      )
  )
GROUP BY r_reason_desc
ORDER BY substr(r_reason_desc, 1, 20)
  , avg(ws_quantity)
  , avg(wr_refunded_cash)
  , avg(wr_fee)
LIMIT 100
"""

# --- q86: web category/class profit rollup ----------------------------------
TPCDS_TEXTS["tpcds_q86"] = """
SELECT
  CAST(sum(ws_net_paid) AS BIGINT) AS total_sum,
  i_category,
  i_class,
  grouping(i_category) + grouping(i_class) AS lochierarchy,
  rank()
  OVER (
    PARTITION BY grouping(i_category) + grouping(i_class),
      CASE WHEN grouping(i_class) = 0
        THEN i_category END
    ORDER BY sum(ws_net_paid) DESC) AS rank_within_parent
FROM
  web_sales, date_dim d1, item
WHERE
  d1.d_month_seq BETWEEN 1200 AND 1200 + 11
    AND d1.d_date_sk = ws_sold_date_sk
    AND i_item_sk = ws_item_sk
GROUP BY ROLLUP (i_category, i_class)
ORDER BY
  lochierarchy DESC,
  CASE WHEN lochierarchy = 0
    THEN i_category END NULLS FIRST,
  rank_within_parent,
  i_category NULLS FIRST,
  i_class NULLS FIRST
LIMIT 100
"""

# --- q87: store-only (last_name, first_name, date) combinations -------------
TPCDS_TEXTS["tpcds_q87"] = """
SELECT count(*) AS num_cool_cust
FROM ((SELECT DISTINCT
  c_last_name,
  c_first_name,
  d_date
FROM store_sales, date_dim, customer
WHERE store_sales.ss_sold_date_sk = date_dim.d_date_sk
  AND store_sales.ss_customer_sk = customer.c_customer_sk
  AND d_month_seq BETWEEN 1200 AND 1200 + 11)
      EXCEPT
      (SELECT DISTINCT
        c_last_name,
        c_first_name,
        d_date
      FROM catalog_sales, date_dim, customer
      WHERE catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
        AND catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
        AND d_month_seq BETWEEN 1200 AND 1200 + 11)
      EXCEPT
      (SELECT DISTINCT
        c_last_name,
        c_first_name,
        d_date
      FROM web_sales, date_dim, customer
      WHERE web_sales.ws_sold_date_sk = date_dim.d_date_sk
        AND web_sales.ws_bill_customer_sk = customer.c_customer_sk
        AND d_month_seq BETWEEN 1200 AND 1200 + 11)
     ) cool_cust
"""

# --- q88: morning half-hour store traffic counts ----------------------------
TPCDS_TEXTS["tpcds_q88"] = """
SELECT *
FROM
  (SELECT count(*) h8_30_to_9
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 8
    AND time_dim.t_minute >= 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s1,
  (SELECT count(*) h9_to_9_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 9
    AND time_dim.t_minute < 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s2,
  (SELECT count(*) h9_30_to_10
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 9
    AND time_dim.t_minute >= 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s3,
  (SELECT count(*) h10_to_10_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 10
    AND time_dim.t_minute < 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s4,
  (SELECT count(*) h10_30_to_11
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 10
    AND time_dim.t_minute >= 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s5,
  (SELECT count(*) h11_to_11_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 11
    AND time_dim.t_minute < 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s6,
  (SELECT count(*) h11_30_to_12
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 11
    AND time_dim.t_minute >= 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s7,
  (SELECT count(*) h12_to_12_30
  FROM store_sales, household_demographics, time_dim, store
  WHERE ss_sold_time_sk = time_dim.t_time_sk
    AND ss_hdemo_sk = household_demographics.hd_demo_sk
    AND ss_store_sk = s_store_sk
    AND time_dim.t_hour = 12
    AND time_dim.t_minute < 30
    AND (
    (household_demographics.hd_dep_count = 4 AND household_demographics.hd_vehicle_count <= 4 + 2)
      OR
      (household_demographics.hd_dep_count = 2 AND household_demographics.hd_vehicle_count <= 2 + 2)
      OR
      (household_demographics.hd_dep_count = 0 AND
        household_demographics.hd_vehicle_count <= 0 + 2))
    AND store.s_store_name = 'ese') s8
"""

# --- q89: in-category class outliers vs yearly average ----------------------
TPCDS_TEXTS["tpcds_q89"] = """
SELECT *
FROM (
       SELECT
         i_category,
         i_class,
         i_brand,
         s_store_name,
         s_company_name,
         d_moy,
         CAST(sum(ss_sales_price) AS BIGINT) sum_sales,
         avg(sum(ss_sales_price))
         OVER
         (PARTITION BY i_category, i_brand, s_store_name, s_company_name)
         avg_monthly_sales
       FROM item, store_sales, date_dim, store
       WHERE ss_item_sk = i_item_sk AND
         ss_sold_date_sk = d_date_sk AND
         ss_store_sk = s_store_sk AND
         d_year IN (1999) AND
         ((i_category IN ('Books', 'Electronics', 'Sports') AND
           i_class IN ('computers', 'stereo', 'football'))
           OR (i_category IN ('Men', 'Jewelry', 'Women') AND
           i_class IN ('shirts', 'birdal', 'dresses')))
       GROUP BY i_category, i_class, i_brand,
         s_store_name, s_company_name, d_moy) tmp1
WHERE CASE WHEN (avg_monthly_sales <> 0)
  THEN (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales)
      ELSE NULL END > 0.1
ORDER BY sum_sales - avg_monthly_sales, s_store_name,
  i_category, i_class, i_brand, s_company_name, d_moy
LIMIT 100
"""

# --- q90: AM/PM web order ratio (DECIMAL cast pinned, alias renamed) --------
# `at` is a reserved word in newer engines; the derived-table aliases are
# renamed `amt`/`pmt` (pure alias change, never referenced elsewhere).
TPCDS_TEXTS["tpcds_q90"] = """
SELECT cast(amc AS DOUBLE) / cast(pmc AS DOUBLE) am_pm_ratio
FROM (SELECT count(*) amc
FROM web_sales, household_demographics, time_dim, web_page
WHERE ws_sold_time_sk = time_dim.t_time_sk
  AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
  AND ws_web_page_sk = web_page.wp_web_page_sk
  AND time_dim.t_hour BETWEEN 8 AND 8 + 1
  AND household_demographics.hd_dep_count = 6
  AND web_page.wp_char_count BETWEEN 5000 AND 5200) amt,
  (SELECT count(*) pmc
  FROM web_sales, household_demographics, time_dim, web_page
  WHERE ws_sold_time_sk = time_dim.t_time_sk
    AND ws_ship_hdemo_sk = household_demographics.hd_demo_sk
    AND ws_web_page_sk = web_page.wp_web_page_sk
    AND time_dim.t_hour BETWEEN 19 AND 19 + 1
    AND household_demographics.hd_dep_count = 6
    AND web_page.wp_char_count BETWEEN 5000 AND 5200) pmt
ORDER BY am_pm_ratio
LIMIT 100
"""


# --- q91: call-center losses from well-off returners (no LIMIT) ------------
TPCDS_TEXTS["tpcds_q91"] = """
SELECT
  cc_call_center_id Call_Center,
  cc_name Call_Center_Name,
  cc_manager Manager,
  CAST(sum(cr_net_loss) AS BIGINT) Returns_Loss
FROM
  call_center, catalog_returns, date_dim, customer, customer_address,
  customer_demographics, household_demographics
WHERE
  cr_call_center_sk = cc_call_center_sk
    AND cr_returned_date_sk = d_date_sk
    AND cr_returning_customer_sk = c_customer_sk
    AND cd_demo_sk = c_current_cdemo_sk
    AND hd_demo_sk = c_current_hdemo_sk
    AND ca_address_sk = c_current_addr_sk
    AND d_year = 1998
    AND d_moy = 11
    AND ((cd_marital_status = 'M' AND cd_education_status = 'Unknown')
    OR (cd_marital_status = 'W' AND cd_education_status = 'Advanced Degree'))
    AND hd_buy_potential LIKE 'Unknown%'
    AND ca_gmt_offset = -7
GROUP BY cc_call_center_id, cc_name, cc_manager, cd_marital_status, cd_education_status
ORDER BY sum(cr_net_loss) DESC
"""

# --- q92: discounts above 1.3x the item average (alias renamed) -------------
TPCDS_TEXTS["tpcds_q92"] = """
SELECT CAST(sum(ws_ext_discount_amt) AS BIGINT) AS excess_discount_amount
FROM web_sales, item, date_dim
WHERE i_manufact_id = 350
  AND i_item_sk = ws_item_sk
  AND d_date BETWEEN cast('2000-01-27' AS DATE) AND (cast('2000-01-27' AS DATE) + INTERVAL '90' DAY)
  AND d_date_sk = ws_sold_date_sk
  AND ws_ext_discount_amt >
  (
    SELECT 1.3 * avg(ws_ext_discount_amt)
    FROM web_sales, date_dim
    WHERE ws_item_sk = i_item_sk
      AND d_date BETWEEN cast('2000-01-27' AS DATE) AND (cast('2000-01-27' AS DATE) + INTERVAL '90' DAY)
      AND d_date_sk = ws_sold_date_sk
  )
ORDER BY sum(ws_ext_discount_amt)
LIMIT 100
"""

# --- q93: customer sales net of 'reason 28' returns --------------------------
TPCDS_TEXTS["tpcds_q93"] = """
SELECT
  ss_customer_sk,
  CAST(sum(act_sales) AS BIGINT) sumsales
FROM (SELECT
  ss_item_sk,
  ss_ticket_number,
  ss_customer_sk,
  CASE WHEN sr_return_quantity IS NOT NULL
    THEN (ss_quantity - sr_return_quantity) * ss_sales_price
  ELSE (ss_quantity * ss_sales_price) END act_sales
FROM store_sales
  LEFT OUTER JOIN store_returns
    ON (sr_item_sk = ss_item_sk AND sr_ticket_number = ss_ticket_number)
  ,
  reason
WHERE sr_reason_sk = r_reason_sk AND r_reason_desc = 'reason 28') t
GROUP BY ss_customer_sk
ORDER BY sumsales, ss_customer_sk
LIMIT 100
"""

# --- q94: multi-warehouse unreturned IL web orders (aliases renamed) ---------
TPCDS_TEXTS["tpcds_q94"] = """
SELECT
  count(DISTINCT ws_order_number) AS order_count,
  CAST(sum(ws_ext_ship_cost) AS BIGINT) AS total_shipping_cost,
  CAST(sum(ws_net_profit) AS BIGINT) AS total_net_profit
FROM
  web_sales ws1, date_dim, customer_address, web_site
WHERE
  d_date BETWEEN CAST('1999-02-01' AS DATE) AND CAST('1999-02-01' AS DATE) + INTERVAL '60' DAY
    AND ws1.ws_ship_date_sk = d_date_sk
    AND ws1.ws_ship_addr_sk = ca_address_sk
    AND ca_state = 'IL'
    AND ws1.ws_web_site_sk = web_site_sk
    AND web_company_name = 'pri'
    AND EXISTS(SELECT *
               FROM web_sales ws2
               WHERE ws1.ws_order_number = ws2.ws_order_number
                 AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
    AND NOT EXISTS(SELECT *
                   FROM web_returns wr1
                   WHERE ws1.ws_order_number = wr1.wr_order_number)
ORDER BY count(DISTINCT ws_order_number)
LIMIT 100
"""

# --- q95: multi-warehouse RETURNED IL web orders (aliases renamed) -----------
TPCDS_TEXTS["tpcds_q95"] = """
WITH ws_wh AS
(SELECT
    ws1.ws_order_number,
    ws1.ws_warehouse_sk wh1,
    ws2.ws_warehouse_sk wh2
  FROM web_sales ws1, web_sales ws2
  WHERE ws1.ws_order_number = ws2.ws_order_number
    AND ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
SELECT
  count(DISTINCT ws_order_number) AS order_count,
  CAST(sum(ws_ext_ship_cost) AS BIGINT) AS total_shipping_cost,
  CAST(sum(ws_net_profit) AS BIGINT) AS total_net_profit
FROM
  web_sales ws1, date_dim, customer_address, web_site
WHERE
  d_date BETWEEN CAST('1999-02-01' AS DATE) AND
  (CAST('1999-02-01' AS DATE) + INTERVAL '60' DAY)
    AND ws1.ws_ship_date_sk = d_date_sk
    AND ws1.ws_ship_addr_sk = ca_address_sk
    AND ca_state = 'IL'
    AND ws1.ws_web_site_sk = web_site_sk
    AND web_company_name = 'pri'
    AND ws1.ws_order_number IN (SELECT ws_order_number
  FROM ws_wh)
    AND ws1.ws_order_number IN (SELECT wr_order_number
  FROM web_returns, ws_wh
  WHERE wr_order_number = ws_wh.ws_order_number)
ORDER BY count(DISTINCT ws_order_number)
LIMIT 100
"""

# --- q96: 8:30pm store traffic count (alias added) ---------------------------
TPCDS_TEXTS["tpcds_q96"] = """
SELECT count(*) AS cnt
FROM store_sales, household_demographics, time_dim, store
WHERE ss_sold_time_sk = time_dim.t_time_sk
  AND ss_hdemo_sk = household_demographics.hd_demo_sk
  AND ss_store_sk = s_store_sk
  AND time_dim.t_hour = 20
  AND time_dim.t_minute >= 30
  AND household_demographics.hd_dep_count = 7
  AND store.s_store_name = 'ese'
ORDER BY count(*)
LIMIT 100
"""

# --- q97: store/catalog (customer, item) overlap -----------------------------
TPCDS_TEXTS["tpcds_q97"] = """
WITH ssci AS (
  SELECT
    ss_customer_sk customer_sk,
    ss_item_sk item_sk
  FROM store_sales, date_dim
  WHERE ss_sold_date_sk = d_date_sk
    AND d_month_seq BETWEEN 1200 AND 1200 + 11
  GROUP BY ss_customer_sk, ss_item_sk),
    csci AS (
    SELECT
      cs_bill_customer_sk customer_sk,
      cs_item_sk item_sk
    FROM catalog_sales, date_dim
    WHERE cs_sold_date_sk = d_date_sk
      AND d_month_seq BETWEEN 1200 AND 1200 + 11
    GROUP BY cs_bill_customer_sk, cs_item_sk)
SELECT
  CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
    THEN 1
      ELSE 0 END) AS BIGINT) store_only,
  CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
    THEN 1
      ELSE 0 END) AS BIGINT) catalog_only,
  CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
    THEN 1
      ELSE 0 END) AS BIGINT) store_and_catalog
FROM ssci
  FULL OUTER JOIN csci ON (ssci.customer_sk = csci.customer_sk
    AND ssci.item_sk = csci.item_sk)
LIMIT 100
"""

# --- q98: in-class revenue share over a 30-day window (no LIMIT) -------------
TPCDS_TEXTS["tpcds_q98"] = """
SELECT
  i_item_desc,
  i_category,
  i_class,
  i_current_price,
  CAST(sum(ss_ext_sales_price) AS BIGINT) AS itemrevenue,
  CAST(sum(ss_ext_sales_price) * 100 AS DOUBLE) / nullif(sum(sum(ss_ext_sales_price))
  OVER
  (PARTITION BY i_class), 0) AS revenueratio
FROM
  store_sales, item, date_dim
WHERE
  ss_item_sk = i_item_sk
    AND i_category IN ('Sports', 'Books', 'Home')
    AND ss_sold_date_sk = d_date_sk
    AND d_date BETWEEN cast('1999-02-22' AS DATE)
  AND (cast('1999-02-22' AS DATE) + INTERVAL '30' DAY)
GROUP BY
  i_item_id, i_item_desc, i_category, i_class, i_current_price
ORDER BY
  i_category, i_class, i_item_id, i_item_desc, revenueratio
"""

# --- q99: catalog ship-latency buckets (quoted aliases -> identifiers) -------
TPCDS_TEXTS["tpcds_q99"] = """
SELECT
  substr(w_warehouse_name, 1, 20) AS wh_name,
  sm_type,
  cc_name,
  CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk <= 30)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_30,
  CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 30) AND
    (cs_ship_date_sk - cs_sold_date_sk <= 60)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_31_60,
  CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 60) AND
    (cs_ship_date_sk - cs_sold_date_sk <= 90)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_61_90,
  CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 90) AND
    (cs_ship_date_sk - cs_sold_date_sk <= 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_91_120,
  CAST(sum(CASE WHEN (cs_ship_date_sk - cs_sold_date_sk > 120)
    THEN 1
      ELSE 0 END) AS BIGINT) AS days_gt_120
FROM
  catalog_sales, warehouse, ship_mode, call_center, date_dim
WHERE
  d_month_seq BETWEEN 1200 AND 1200 + 11
    AND cs_ship_date_sk = d_date_sk
    AND cs_warehouse_sk = w_warehouse_sk
    AND cs_ship_mode_sk = sm_ship_mode_sk
    AND cs_call_center_sk = cc_call_center_sk
GROUP BY
  substr(w_warehouse_name, 1, 20), sm_type, cc_name
ORDER BY substr(w_warehouse_name, 1, 20), sm_type, cc_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Harness-level runtime fact prunes.  For one spark.sql call, each fact view
# of an opted-in query is shadowed by the key filter that the query's own
# optimized plan implies:
# * a fact column equi-joined (inner or left semi) to a filtered, fact-free
#   dimension subtree takes that subtree's distinct join keys;
# * keys carry across inner equi-join equivalence classes (q64's sr_item_sk
#   and cr_item_sk via ss_item_sk/cs_item_sk = i_item_sk), filters,
#   projections and grouping keys; any other operator, and the
#   null-supplying side of a left outer join, stops them;
# * an unfiltered dimension side is first semi-joined, on the join's other
#   equi-conjuncts, with the filtered fact-free subtrees they reference
#   (q72: inv_date_sk = d2.d_date_sk AND d1.d_week_seq = d2.d_week_seq);
# * a view read more than once takes the union of its instances' key sets,
#   and none if an instance is unconstrained (q72's catalog_returns) or the
#   plan reads a relation inside a subquery expression.
# Keys reach the parquet scan as PushedFilters (BETWEEN for a contiguous sk
# run, else In), where Catalyst's runtime bloom filter (SPARK-32268) does
# not fire.  Targets and keys are memoized per catalog token and query.
_FACT_PRUNES = frozenset(
    f"tpcds_q{n}" for n in (4, 22, 37, 39, 51, 64, 67, 72, 78, 82)
)
_FACT_VIEWS = ("store_sales", "store_returns", "catalog_sales",
               "catalog_returns", "web_sales", "web_returns", "inventory")
# Size gate, as Spark's own runtime filter has: a prune costs about the same
# at any size and gains with the fact's bytes.  At sf0.1 the 6-9 MB sales
# facts lost 0.1-1.2 s per query and the 28 MB inventory won (SCALE.md); the
# gate reads Catalyst's live estimate, so more data lets the sales facts in.
_PRUNE_MIN_FACT_BYTES = 16 << 20
# Key cap for a NON-CONTIGUOUS key set: a ~47k-value In list made q64 15x
# slower at the 100x probe, while ~2.5k-value lists still won (SCALE.md).
_PRUNE_MAX_KEYS = 4096


def _view_bytes(spark: SparkSession, view: str) -> int:
    """Catalyst's size estimate for a registered view, memoized under the
    catalog token. Fails open: an unknown estimate applies the prune for
    this call only (nothing is memoized), and the next call asks again."""

    def estimate() -> int:
        plan = spark.table(view)._jdf.queryExecution().optimizedPlan()
        return int(str(plan.stats().sizeInBytes()))

    try:
        return catalog_memo(spark, ("view_bytes", view), estimate)
    except Exception:
        return 1 << 62


class _KeyClass:
    """Union-find class of equi-joined columns and the specs bounding it."""

    def __init__(self):
        self.parent, self.specs = self, []

    def root(self) -> _KeyClass:
        return self if self.parent is self else self.parent.root()


def _walk(plan: tuple, fact_of: dict, instances: dict, path: tuple = ()):
    """A toJSON plan subtree, bottom-up: its child ``path``, whether it reads
    a fact or filters beyond IsNotNull, and the key class of each column
    reaching it row for row; a fact scan adds to ``instances[view]``."""
    kind, node, kids = plan
    sides = [_walk(k, fact_of, instances, path + (i,)) for i, k in enumerate(kids)]
    side = SimpleNamespace(path=path, kids=sides, classes={},
                           facts=any(s.facts for s in sides),
                           selective=any(s.selective for s in sides))
    child = sides[0].classes if sides else {}
    if kind == "LogicalRelation":
        cols = [a[0] for a in node["output"]]
        inst = {c["name"]: _KeyClass() for c in cols}
        side.classes = {c["exprId"]["id"]: inst[c["name"]] for c in cols}
        if cols[0]["name"] in fact_of:
            instances.setdefault(fact_of[cols[0]["name"]], []).append(inst)
            side.facts = True
    elif kind in ("Project", "Filter"):
        side.classes = dict(child)
        side.selective |= kind == "Filter" and any(
            c[0] != "IsNotNull" for c in conjuncts(catalyst_tree(node["condition"]))
        )
    elif kind == "Aggregate":
        keys = node["groupingExpressions"]
        kept = {e[0]["exprId"]["id"] for e in keys if "exprId" in e[0]}
        side.classes = {i: c for i, c in child.items() if i in kept}
    elif kind == "Join":
        join = node["joinType"].get("object", "").split(".")[-1]
        if join in ("Inner$", "LeftSemi$"):
            side.classes = {**sides[0].classes, **sides[1].classes}
            _join(side, node.get("condition"))
        elif join == "LeftOuter$":
            side.classes = dict(sides[0].classes)
    for expr in node.get("projectList") or node.get("aggregateExpressions") or []:
        e_kind, alias, e_kids = catalyst_tree(expr)  # `column AS name`
        if e_kind == "Alias" and e_kids[0][0] == "AttributeReference":
            src = side.classes.get(e_kids[0][1]["exprId"]["id"])
            if src is not None:
                side.classes[alias["exprId"]["id"]] = src
    return side


def _join(side, condition) -> None:
    """Merge the key classes an inner or semi join's equi-conjuncts tie;
    a fact column joined to a fact-free dimension side takes a
    (dimension path, key column, semi-joins) spec of that side's keys."""
    left, right = side.kids
    classes, pairs = side.classes, []  # (left column, right column) ids
    for kind, _, kids in conjuncts(catalyst_tree(condition)) if condition else []:
        ids = [k[1]["exprId"]["id"] for k in kids if k[0] == "AttributeReference"]
        if kind == "EqualTo" and len(ids) == 2 and all(i in classes for i in ids):
            pairs.append(ids if ids[0] in left.classes else ids[::-1])
    for a, b in pairs:
        ra, rb = classes[a].root(), classes[b].root()
        if ra is not rb:
            rb.parent, ra.specs = ra, ra.specs + rb.specs
    for dim, fact, flip in ((right, left, False), (left, right, True)):
        if dim.facts or not fact.facts:
            continue
        oriented = [(b, a) if flip else (a, b) for a, b in pairs]
        for f_col, d_col in oriented:
            semi = tuple(
                (other, leaf.path, f_other)
                for f_other, other in oriented
                if other != d_col and not dim.selective
                and (leaf := _leaf(fact, f_other)) is not None and leaf.selective
            )
            if dim.selective or semi:
                classes[f_col].root().specs.append((dim.path, d_col, semi))


def _leaf(side, col: int):
    """The fact-free subtree of ``side`` that yields ``col``, if any."""
    while side is not None and side.facts:
        side = next((k for k in side.kids if col in k.classes), None)
    return side


def _derive_prunes(spark: SparkSession, pure: DataFrame) -> tuple:
    """(optimized plan, {fact view: ((column, per-instance specs), ...)})
    of a query's pure DataFrame, by the rule above."""
    plan = pure._jdf.queryExecution().optimizedPlan()
    text = plan.toJSON()
    nodes = json.loads(text)
    scans = sum(n["class"].endswith(".LogicalRelation") for n in nodes)
    if text.count('.LogicalRelation"') != scans:
        return plan, {}  # a relation read inside a subquery expression
    instances: dict[str, list] = {}
    fact_of = {c: v for v in _FACT_VIEWS for c in spark.table(v).columns}
    _walk(catalyst_tree(nodes), fact_of, instances)
    targets = {}
    for view, insts in instances.items():
        specs = [{c: tuple(k.root().specs) for c, k in inst.items()
                  if k.root().specs} for inst in insts]
        cols = sorted(set.intersection(*map(set, specs)))
        if cols:
            targets[view] = tuple((c, tuple(s[c] for s in specs)) for c in cols)
    return plan, targets


def _spec_keys(spark: SparkSession, plan, spec: tuple) -> set:
    """The distinct non-null keys a spec's dimension subtree yields, each
    subtree run as a DataFrame whose columns are named ``_<exprId>``."""

    def frame(path: tuple) -> DataFrame:
        node = reduce(lambda n, i: n.children().apply(i), path, plan)
        out = node.output()
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, node
        )
        names = (f"_{out.apply(i).exprId().id()}" for i in range(out.size()))
        return DataFrame(jdf, spark).toDF(*names)

    path, col, semi = spec
    dim = frame(path)
    for d_col, leaf_path, f_col in semi:
        leaf = frame(leaf_path)
        dim = dim.join(leaf, dim[f"_{d_col}"] == leaf[f"_{f_col}"], "left_semi")
    rows = dim.select(f"_{col}").distinct().collect()
    return {r[0] for r in rows if r[0] is not None}


def _prune_keys(spark: SparkSession, plan, per_instance: tuple) -> list:
    """The sorted union over instances of each instance's intersected key
    sets."""
    keys = set()
    for specs in per_instance:
        keys |= set.intersection(*(_spec_keys(spark, plan, s) for s in specs))
    return sorted(keys)


def _apply_fact_prunes(
    spark: SparkSession, name: str, targets: tuple
) -> dict[str, DataFrame]:
    """Shadow each derived target view at or above the size gate with its
    key predicate(s); returns the captured ORIGINAL DataFrames so the
    caller can restore the catalog right after spark.sql has analyzed the
    query text."""
    from pyspark.sql import functions as F

    plan, views = targets
    preds: dict[str, list] = {}
    for view, cols in views.items():
        if _view_bytes(spark, view) < _PRUNE_MIN_FACT_BYTES:
            continue  # don't even collect the dimension keys
        for col, per_instance in cols:
            vals = catalog_memo(spark, ("prune_keys", name, view, col),
                                lambda: _prune_keys(spark, plan, per_instance))
            # A contiguous key run (the date_dim surrogate keys are ordinal)
            # becomes a range, which parquet row-group min/max stats can
            # skip on; an empty one (tiny SFs) matches no fact row.
            run = bool(vals) and vals[-1] - vals[0] + 1 == len(vals)
            if not run and len(vals) > _PRUNE_MAX_KEYS:
                continue  # an In list this long costs more than it prunes
            preds.setdefault(view, []).append(
                F.col(col).between(vals[0], vals[-1]) if run
                else F.col(col).isin(vals) if vals else F.lit(False)
            )
    restores: dict[str, DataFrame] = {}
    try:
        for view, plist in preds.items():
            orig = spark.table(view)
            restores[view] = orig
            orig.filter(reduce(operator.and_, plist)).createOrReplaceTempView(view)
    except BaseException:
        # A failure partway must not leave pruned shadows registered under
        # a valid catalog token: put back what was shadowed, and if even
        # that fails, make the next query re-register every view.
        try:
            _restore_views(restores)
        except Exception:
            catalog_state_dirty(spark)
        raise
    return restores


def _restore_views(restores: dict[str, DataFrame]) -> None:
    for view, orig in restores.items():
        orig.createOrReplaceTempView(view)


def _register_tpcds_texts() -> None:
    for name, text in TPCDS_TEXTS.items():

        def run(
            spark: SparkSession, sf_dir: str, _text=text, _name=name
        ) -> DataFrame:
            register_tpcds_views(spark, sf_dir)
            if _name not in _FACT_PRUNES:
                return spark.sql(_text)
            targets = catalog_memo(
                spark, ("fact_prunes", _name),
                lambda: _derive_prunes(spark, spark.sql(_text)),
            )
            restores = _apply_fact_prunes(spark, _name, targets)
            try:
                # spark.sql analyzes eagerly — the shadowed view plans are
                # inlined into the returned Dataset here...
                return spark.sql(_text)
            finally:
                # ...so re-pointing the names back is safe immediately, and
                # the catalog is restored even when analysis throws.
                _restore_views(restores)

        run.__name__ = name
        run.__doc__ = (
            f"Verbatim TPC-DS {name[6:]} text (reference "
            f"docker/trino-client/queries/{name[6:]}.sql; module docstring "
            "lists the determinism adjustments) run as a raw SQL string on "
            "both engines over the synthetic TPC-DS schema — the "
            "reference's execution mode (run_workload.py:38)."
        )
        register(name, oracle=oracle_sql_for(text))(run)


_register_tpcds_texts()
