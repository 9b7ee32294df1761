"""Verbatim-modulo-normalization workload texts from the reference's
generated TPCDS battery (`models/Queries/Baseline_TPCDS/tpcds_Baseline_train.ndjson`).

AUTO-SELECTED by scripts/gen_workload_battery.py: each text is the
reference's published SQL normalized once by
`synth_common.normalize_workload_sql` (bare-varchar cast + BIGINT
sum pinning — see its docstring), then executed as the SAME string
by `spark.sql` (double-quoted-identifier parse mode) and the DuckDB
oracle over the derived synthetic schema.  `runtime_ref_s` carries
the reference's published Trino runtime label for the workload-
runner parity artifacts; it plays no part in correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_variance_spark.plans import synth_common as synth
from lakehouse_variance_spark.plans.tpcds_schema import (
    oracle_sql_for,
    register_tpcds_views,
)
from lakehouse_variance_spark.plans.fanout_rewrite import sized_rewrite
from lakehouse_variance_spark.registry import register

TEXTS: dict[str, str] = {
    'tpcds_wl_1': r'''SELECT "date_dim"."d_year", "date_dim"."d_fy_week_seq", COUNT(*) as agg_0 FROM "inventory" LEFT OUTER JOIN "date_dim" ON "inventory"."inv_date_sk" = "date_dim"."d_date_sk"  WHERE "date_dim"."d_holiday" IN ('N') AND CAST("inventory"."inv_date_sk" AS string) NOT LIKE '%24%50822%' AND "inventory"."inv_warehouse_sk" IN (6, 2, 5, 3) GROUP BY "date_dim"."d_year", "date_dim"."d_fy_week_seq" ORDER BY "date_dim"."d_year", "date_dim"."d_fy_week_seq"''',
    'tpcds_wl_81': r'''SELECT "catalog_sales"."cs_sold_date_sk", COUNT(*) as agg_0 FROM "warehouse" LEFT OUTER JOIN "catalog_returns" ON "warehouse"."w_warehouse_sk" = "catalog_returns"."cr_warehouse_sk" LEFT OUTER JOIN "catalog_sales" ON "catalog_returns"."cr_order_number" = "catalog_sales"."cs_order_number"  WHERE ("warehouse"."w_city" != 'Fairview' OR "warehouse"."w_city" IN ('Riverside')) AND "catalog_returns"."cr_call_center_sk" IS NOT NULL GROUP BY "catalog_sales"."cs_sold_date_sk" ORDER BY "catalog_sales"."cs_sold_date_sk"''',
    'tpcds_wl_181': r'''SELECT "customer_demographics"."cd_purchase_estimate", "catalog_returns"."cr_ship_mode_sk", COUNT(*) as agg_0 FROM "catalog_returns" LEFT OUTER JOIN "customer_demographics" ON "catalog_returns"."cr_refunded_cdemo_sk" = "customer_demographics"."cd_demo_sk"  WHERE CAST("catalog_returns"."cr_call_center_sk" AS string) NOT LIKE '%7.%0%' AND "catalog_returns"."cr_returning_hdemo_sk" IS NOT NULL AND "customer_demographics"."cd_dep_employed_count" = 5 AND ("catalog_returns"."cr_warehouse_sk" = 2 OR "catalog_returns"."cr_warehouse_sk" IN (4, 2, 3, 5) OR "catalog_returns"."cr_warehouse_sk" IN (3, 1, 5, 4)) AND "catalog_returns"."cr_call_center_sk" = 2 GROUP BY "customer_demographics"."cd_purchase_estimate", "catalog_returns"."cr_ship_mode_sk" ORDER BY "customer_demographics"."cd_purchase_estimate", "catalog_returns"."cr_ship_mode_sk"''',
    'tpcds_wl_281': r'''SELECT "ship_mode"."sm_ship_mode_id", "ship_mode"."sm_ship_mode_sk", COUNT(*) as agg_0 FROM "ship_mode" LEFT OUTER JOIN "web_sales" ON "ship_mode"."sm_ship_mode_sk" = "web_sales"."ws_ship_mode_sk"  WHERE ("web_sales"."ws_promo_sk" IS NOT NULL OR "web_sales"."ws_sold_date_sk" IN (2452272, 2452237, 2452241, 2451181, 2451172, 2451864, 2452277, 2451546, 2451177, 2452620, 2452638, 2452590, 2452268)) AND ("ship_mode"."sm_ship_mode_id" != 'AAAAAAAAEBAAAAAA' OR ("ship_mode"."sm_type" = 'OVERNIGHT' AND "ship_mode"."sm_ship_mode_id" != 'AAAAAAAAKAAAAAAA')) AND "ship_mode"."sm_carrier" IN ('GREAT EASTERN', 'BARIAN', 'ZHOU', 'PRIVATECARRIER', 'FEDEX', 'HARMSTORF', 'BOXBUNDLES', 'LATVIAN', 'USPS', 'TBS', 'MSC', 'DIAMOND', 'ALLIANCE', 'RUPEKSA') GROUP BY "ship_mode"."sm_ship_mode_id", "ship_mode"."sm_ship_mode_sk" ORDER BY "ship_mode"."sm_ship_mode_id", "ship_mode"."sm_ship_mode_sk"''',
    'tpcds_wl_321': r'''SELECT "promotion"."p_channel_email", "date_dim"."d_moy", COUNT(*) as agg_0 FROM "promotion" LEFT OUTER JOIN "date_dim" ON "promotion"."p_end_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "web_sales" ON "date_dim"."d_date_sk" = "web_sales"."ws_sold_date_sk" LEFT OUTER JOIN "web_returns" ON "web_sales"."ws_item_sk" = "web_returns"."wr_item_sk" LEFT OUTER JOIN "ship_mode" ON "web_sales"."ws_ship_mode_sk" = "ship_mode"."sm_ship_mode_sk" LEFT OUTER JOIN "call_center" ON "date_dim"."d_date_sk" = "call_center"."cc_open_date_sk"  WHERE "ship_mode"."sm_ship_mode_sk" = 6 AND "promotion"."p_channel_dmail" IN ('Y') GROUP BY "promotion"."p_channel_email", "date_dim"."d_moy" ORDER BY "promotion"."p_channel_email", "date_dim"."d_moy"''',
    'tpcds_wl_381': r'''SELECT "household_demographics"."hd_demo_sk", COUNT(*) as agg_0 FROM "date_dim" LEFT OUTER JOIN "promotion" ON "date_dim"."d_date_sk" = "promotion"."p_start_date_sk" LEFT OUTER JOIN "catalog_returns" ON "date_dim"."d_date_sk" = "catalog_returns"."cr_returned_date_sk" LEFT OUTER JOIN "household_demographics" ON "catalog_returns"."cr_returning_hdemo_sk" = "household_demographics"."hd_demo_sk"  WHERE CAST("promotion"."p_response_target" AS string) NOT LIKE '%1%.0%' GROUP BY "household_demographics"."hd_demo_sk" ORDER BY "household_demographics"."hd_demo_sk"''',
    'tpcds_wl_421': r'''SELECT "catalog_returns"."cr_catalog_page_sk", "promotion"."p_start_date_sk", COUNT(*) as agg_0 FROM "catalog_returns" LEFT OUTER JOIN "date_dim" ON "catalog_returns"."cr_returned_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "web_page" ON "date_dim"."d_date_sk" = "web_page"."wp_creation_date_sk" LEFT OUTER JOIN "promotion" ON "date_dim"."d_date_sk" = "promotion"."p_start_date_sk"  WHERE "catalog_returns"."cr_call_center_sk" IN (8, 1, 2, 4, 5, 7) AND "catalog_returns"."cr_return_quantity" IN (9, 6, 12, 19, 17, 11, 7, 3, 4, 13, 18, 10, 5, 15, 16) GROUP BY "catalog_returns"."cr_catalog_page_sk", "promotion"."p_start_date_sk" ORDER BY "catalog_returns"."cr_catalog_page_sk", "promotion"."p_start_date_sk"''',
    'tpcds_wl_521': r'''SELECT "customer"."c_first_sales_date_sk", COUNT(*) as agg_0 FROM "customer" LEFT OUTER JOIN "store_returns" ON "customer"."c_customer_sk" = "store_returns"."sr_customer_sk"  WHERE "store_returns"."sr_return_quantity" = 10 AND "customer"."c_first_sales_date_sk" != 2450328 GROUP BY "customer"."c_first_sales_date_sk" ORDER BY "customer"."c_first_sales_date_sk"''',
    'tpcds_wl_601': r'''SELECT "call_center"."cc_zip", COUNT(*) as agg_0 FROM "call_center"  WHERE "call_center"."cc_call_center_sk" IN (5, 6, 2, 1) GROUP BY "call_center"."cc_zip" ORDER BY "call_center"."cc_zip"''',
    'tpcds_wl_861': r'''SELECT "customer"."c_birth_day", COUNT(*) as agg_0 FROM "store_sales" LEFT OUTER JOIN "customer" ON "store_sales"."ss_customer_sk" = "customer"."c_customer_sk"  WHERE "store_sales"."ss_store_sk" IN (20, 64, 7, 22) AND CAST("store_sales"."ss_coupon_amt" AS string) NOT LIKE '%0.0%' GROUP BY "customer"."c_birth_day" ORDER BY "customer"."c_birth_day"''',
    'tpcds_wl_961': r'''SELECT "customer_address"."ca_state", COUNT(*) as agg_0 FROM "web_sales" LEFT OUTER JOIN "customer_address" ON "web_sales"."ws_bill_addr_sk" = "customer_address"."ca_address_sk" LEFT OUTER JOIN "customer" ON "customer_address"."ca_address_sk" = "customer"."c_current_addr_sk"  WHERE "web_sales"."ws_promo_sk" IN (265, 76, 56, 203, 138, 292, 245, 361, 197, 140, 127, 225, 11, 86) OR CAST("web_sales"."ws_warehouse_sk" AS string) NOT LIKE '%5.0%' GROUP BY "customer_address"."ca_state" ORDER BY "customer_address"."ca_state"''',
    'tpcds_wl_1021': r'''SELECT "date_dim"."d_quarter_seq", COUNT(*) as agg_0 FROM "store_returns" LEFT OUTER JOIN "date_dim" ON "store_returns"."sr_returned_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "catalog_page" ON "date_dim"."d_date_sk" = "catalog_page"."cp_end_date_sk"  WHERE CAST("catalog_page"."cp_department" AS string) LIKE '%DEPARTMENT%' AND CAST("store_returns"."sr_return_ship_cost" AS string) NOT LIKE '%0.0%' AND "date_dim"."d_year" != 1932 GROUP BY "date_dim"."d_quarter_seq" ORDER BY "date_dim"."d_quarter_seq"''',
    'tpcds_wl_1041': r'''SELECT "date_dim"."d_quarter_seq", COUNT(*) as agg_0 FROM "date_dim"  WHERE "date_dim"."d_holiday" = 'N' AND "date_dim"."d_day_name" IN ('Tuesday', 'Monday', 'Thursday', 'Sunday') GROUP BY "date_dim"."d_quarter_seq" ORDER BY "date_dim"."d_quarter_seq"''',
    'tpcds_wl_1201': r'''SELECT "item"."i_brand_id", COUNT(*) as agg_0 FROM "item" LEFT OUTER JOIN "promotion" ON "item"."i_item_sk" = "promotion"."p_item_sk" LEFT OUTER JOIN "date_dim" ON "promotion"."p_start_date_sk" = "date_dim"."d_date_sk"  WHERE "date_dim"."d_current_week" = 'N' GROUP BY "item"."i_brand_id" ORDER BY "item"."i_brand_id"''',
    'tpcds_wl_1221': r'''SELECT "catalog_sales"."cs_bill_hdemo_sk", COUNT(*) as agg_0 FROM "catalog_sales"  WHERE "catalog_sales"."cs_catalog_page_sk" != 4103 OR CAST("catalog_sales"."cs_sold_date_sk" AS string) LIKE '%2450833.0%' OR "catalog_sales"."cs_catalog_page_sk" IN (4034, 3999, 4011, 4103, 4045, 4031, 4100, 4016, 4102, 4070, 4046) GROUP BY "catalog_sales"."cs_bill_hdemo_sk" ORDER BY "catalog_sales"."cs_bill_hdemo_sk"''',
    'tpcds_wl_1341': r'''SELECT "promotion"."p_channel_press", "web_sales"."ws_quantity", COUNT(*) as agg_0 FROM "promotion" LEFT OUTER JOIN "web_sales" ON "promotion"."p_promo_sk" = "web_sales"."ws_promo_sk" LEFT OUTER JOIN "customer" ON "web_sales"."ws_bill_customer_sk" = "customer"."c_customer_sk" LEFT OUTER JOIN "date_dim" ON "web_sales"."ws_ship_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "web_returns" ON "customer"."c_customer_sk" = "web_returns"."wr_returning_customer_sk"  WHERE (CAST("customer"."c_birth_month" AS string) NOT LIKE '%3.%0%' OR "customer"."c_birth_month" IN (8, 2, 9, 1)) AND CAST("web_returns"."wr_return_quantity" AS string) NOT LIKE '%36.%0%' AND CAST("customer"."c_birth_country" AS string) NOT LIKE '%GU%INEA%' AND "web_sales"."ws_ship_mode_sk" != 13 GROUP BY "promotion"."p_channel_press", "web_sales"."ws_quantity" ORDER BY "promotion"."p_channel_press", "web_sales"."ws_quantity"''',
    'tpcds_wl_1401': r'''SELECT "web_page"."wp_link_count", "web_page"."wp_rec_end_date", COUNT(*) as agg_0 FROM "web_page"  WHERE CAST("web_page"."wp_type" AS string) LIKE '%fe%edback%' GROUP BY "web_page"."wp_link_count", "web_page"."wp_rec_end_date" ORDER BY "web_page"."wp_link_count", "web_page"."wp_rec_end_date"''',
    'tpcds_wl_1461': r'''SELECT "web_page"."wp_char_count", "web_page"."wp_access_date_sk", COUNT(*) as agg_0 FROM "web_page" LEFT OUTER JOIN "customer" ON "web_page"."wp_customer_sk" = "customer"."c_customer_sk" LEFT OUTER JOIN "catalog_returns" ON "customer"."c_customer_sk" = "catalog_returns"."cr_refunded_customer_sk"  WHERE "customer"."c_preferred_cust_flag" IN ('Y') OR (CAST("customer"."c_birth_day" AS string) NOT LIKE '%28.0%' AND "customer"."c_preferred_cust_flag" IN ('Y')) GROUP BY "web_page"."wp_char_count", "web_page"."wp_access_date_sk" ORDER BY "web_page"."wp_char_count", "web_page"."wp_access_date_sk"''',
    'tpcds_wl_1541': r'''SELECT "date_dim"."d_current_day", "web_site"."web_name", COUNT(*) as agg_0 FROM "web_site" LEFT OUTER JOIN "date_dim" ON "web_site"."web_open_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "store_returns" ON "date_dim"."d_date_sk" = "store_returns"."sr_returned_date_sk"  WHERE "web_site"."web_mkt_id" IN (4, 6, 3) GROUP BY "date_dim"."d_current_day", "web_site"."web_name" ORDER BY "date_dim"."d_current_day", "web_site"."web_name"''',
    'tpcds_wl_1761': r'''SELECT "customer"."c_birth_country", "customer"."c_birth_day", COUNT(*) as agg_0 FROM "customer"  WHERE "customer"."c_birth_month" != 12 GROUP BY "customer"."c_birth_country", "customer"."c_birth_day" ORDER BY "customer"."c_birth_country", "customer"."c_birth_day"''',
    'tpcds_wl_2021': r'''SELECT "call_center"."cc_city", "call_center"."cc_division", COUNT(*) as agg_0 FROM "call_center" LEFT OUTER JOIN "catalog_returns" ON "call_center"."cc_call_center_sk" = "catalog_returns"."cr_call_center_sk" LEFT OUTER JOIN "customer_demographics" ON "catalog_returns"."cr_returning_cdemo_sk" = "customer_demographics"."cd_demo_sk"  WHERE CAST("call_center"."cc_state" AS string) NOT LIKE '%SD%' GROUP BY "call_center"."cc_city", "call_center"."cc_division" ORDER BY "call_center"."cc_city", "call_center"."cc_division"''',
    'tpcds_wl_2101': r'''SELECT "web_site"."web_county", "call_center"."cc_company", COUNT(*) as agg_0 FROM "web_site" LEFT OUTER JOIN "date_dim" ON "web_site"."web_open_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "call_center" ON "date_dim"."d_date_sk" = "call_center"."cc_closed_date_sk"  GROUP BY "web_site"."web_county", "call_center"."cc_company" ORDER BY "web_site"."web_county", "call_center"."cc_company"''',
    'tpcds_wl_2201': r'''SELECT "web_sales"."ws_bill_hdemo_sk", "date_dim"."d_quarter_name", COUNT(*) as agg_0 FROM "ship_mode" LEFT OUTER JOIN "web_sales" ON "ship_mode"."sm_ship_mode_sk" = "web_sales"."ws_ship_mode_sk" LEFT OUTER JOIN "date_dim" ON "web_sales"."ws_ship_date_sk" = "date_dim"."d_date_sk" LEFT OUTER JOIN "promotion" ON "date_dim"."d_date_sk" = "promotion"."p_end_date_sk" LEFT OUTER JOIN "customer_address" ON "web_sales"."ws_bill_addr_sk" = "customer_address"."ca_address_sk"  WHERE "customer_address"."ca_location_type" IN ('apartment', 'condo') AND "date_dim"."d_current_week" = 'N' AND "date_dim"."d_holiday" IN ('N') GROUP BY "web_sales"."ws_bill_hdemo_sk", "date_dim"."d_quarter_name" ORDER BY "web_sales"."ws_bill_hdemo_sk", "date_dim"."d_quarter_name"''',
    'tpcds_wl_2261': r'''SELECT "customer_demographics"."cd_gender", "customer_demographics"."cd_dep_count", COUNT(*) as agg_0 FROM "catalog_returns" LEFT OUTER JOIN "customer_demographics" ON "catalog_returns"."cr_refunded_cdemo_sk" = "customer_demographics"."cd_demo_sk"  GROUP BY "customer_demographics"."cd_gender", "customer_demographics"."cd_dep_count" ORDER BY "customer_demographics"."cd_gender", "customer_demographics"."cd_dep_count"''',
    'tpcds_wl_2281': r'''SELECT "inventory"."inv_date_sk", "inventory"."inv_warehouse_sk", COUNT(*) as agg_0 FROM "inventory"  WHERE ("inventory"."inv_date_sk" != 2450850 OR CAST("inventory"."inv_date_sk" AS string) NOT LIKE '%24%50822%') AND ("inventory"."inv_quantity_on_hand" = 812 OR "inventory"."inv_quantity_on_hand" IS NOT NULL) AND "inventory"."inv_warehouse_sk" IN (1, 4, 5, 2) AND "inventory"."inv_date_sk" != 2450815 GROUP BY "inventory"."inv_date_sk", "inventory"."inv_warehouse_sk" ORDER BY "inventory"."inv_date_sk", "inventory"."inv_warehouse_sk"''',
    'tpcds_wl_2601': r'''SELECT "customer"."c_first_name", COUNT(*) as agg_0 FROM "web_sales" LEFT OUTER JOIN "customer" ON "web_sales"."ws_ship_customer_sk" = "customer"."c_customer_sk" LEFT OUTER JOIN "store_sales" ON "customer"."c_customer_sk" = "store_sales"."ss_customer_sk"  WHERE CAST("customer"."c_first_name" AS string) NOT LIKE '%Micha%el%' AND "store_sales"."ss_quantity" = 48 GROUP BY "customer"."c_first_name" ORDER BY "customer"."c_first_name"''',
    'tpcds_wl_2621': r'''SELECT "web_returns"."wr_returning_hdemo_sk", COUNT(*) as agg_0 FROM "store_returns" LEFT OUTER JOIN "customer_address" ON "store_returns"."sr_addr_sk" = "customer_address"."ca_address_sk" LEFT OUTER JOIN "web_returns" ON "customer_address"."ca_address_sk" = "web_returns"."wr_refunded_addr_sk"  WHERE CAST("customer_address"."ca_street_name" AS string) NOT LIKE '%Davis%' AND "web_returns"."wr_returning_hdemo_sk" != 620 GROUP BY "web_returns"."wr_returning_hdemo_sk" ORDER BY "web_returns"."wr_returning_hdemo_sk"''',
    'tpcds_wl_2741': r'''SELECT "catalog_sales"."cs_quantity", COUNT(*) as agg_0 FROM "catalog_sales" LEFT OUTER JOIN "customer_demographics" ON "catalog_sales"."cs_bill_cdemo_sk" = "customer_demographics"."cd_demo_sk"  WHERE CAST("catalog_sales"."cs_net_paid" AS string) LIKE '%0.%0%' OR CAST("catalog_sales"."cs_net_paid" AS string) NOT LIKE '%0%.0%' GROUP BY "catalog_sales"."cs_quantity" ORDER BY "catalog_sales"."cs_quantity"''',
    'tpcds_wl_2761': r'''SELECT "promotion"."p_channel_tv", COUNT(*) as agg_0 FROM "web_sales" LEFT OUTER JOIN "promotion" ON "web_sales"."ws_promo_sk" = "promotion"."p_promo_sk" LEFT OUTER JOIN "item" ON "web_sales"."ws_item_sk" = "item"."i_item_sk"  WHERE CAST("web_sales"."ws_coupon_amt" AS string) NOT LIKE '%0.0%' GROUP BY "promotion"."p_channel_tv" ORDER BY "promotion"."p_channel_tv"''',
    'tpcds_wl_2921': r'''SELECT "ship_mode"."sm_carrier", COUNT(*) as agg_0 FROM "item" LEFT OUTER JOIN "catalog_sales" ON "item"."i_item_sk" = "catalog_sales"."cs_item_sk" LEFT OUTER JOIN "ship_mode" ON "catalog_sales"."cs_ship_mode_sk" = "ship_mode"."sm_ship_mode_sk"  WHERE "item"."i_brand" IS NOT NULL AND "ship_mode"."sm_code" = 'SEA' GROUP BY "ship_mode"."sm_carrier" ORDER BY "ship_mode"."sm_carrier"''',
}

REF_RUNTIME_S: dict[str, float] = {
    'tpcds_wl_1': 3.67,
    'tpcds_wl_81': 86.4,
    'tpcds_wl_181': 5.99,
    'tpcds_wl_281': 0.14682,
    'tpcds_wl_321': 46.55,
    'tpcds_wl_381': 6.71,
    'tpcds_wl_421': 7.35,
    'tpcds_wl_521': 13.63,
    'tpcds_wl_601': 0.14018,
    'tpcds_wl_861': 75.0,
    'tpcds_wl_961': 56.54,
    'tpcds_wl_1021': 33.01,
    'tpcds_wl_1041': 0.11756,
    'tpcds_wl_1201': 0.34563,
    'tpcds_wl_1221': 57.24,
    'tpcds_wl_1341': 134.4,
    'tpcds_wl_1401': 0.1278,
    'tpcds_wl_1461': 13.94,
    'tpcds_wl_1541': 7.83,
    'tpcds_wl_1761': 0.83508,
    'tpcds_wl_2021': 11.91,
    'tpcds_wl_2101': 0.16879,
    'tpcds_wl_2201': 0.22432,
    'tpcds_wl_2261': 7.5,
    'tpcds_wl_2281': 9.78,
    'tpcds_wl_2601': 115.8,
    'tpcds_wl_2621': 166.2,
    'tpcds_wl_2741': 93.0,
    'tpcds_wl_2761': 16.32,
    'tpcds_wl_2921': 0.23677,
}


def _register() -> None:
    for name, text in TEXTS.items():

        def run(spark: SparkSession, sf_dir: str, _text=text) -> DataFrame:
            register_tpcds_views(spark, sf_dir)
            # Engine-side count-product rewrite (size-gated; the
            # oracle keeps the naive text, so every driver hash
            # match on a fired text proves the rewrite exact).
            rw = sized_rewrite(_text, 'tpcds', spark)
            return synth.sql_quoted_idents(spark, rw)

        run.__name__ = name
        run.__doc__ = (
            'Reference-generated TPCDS workload text ' + name + ' — '
            'identical normalized string on both engines.'
        )
        register(name, oracle=oracle_sql_for(text))(run)


_register()
