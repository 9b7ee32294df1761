"""Verbatim-modulo-normalization workload texts from the reference's
generated IMDB_LOCAL battery (`models/Queries/Local_IMDB/imdb_Local_test.ndjson`).

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
from lakehouse_variance_spark.plans.job_schema import (
    oracle_sql_for_job,
    register_job_views,
)
from lakehouse_variance_spark.plans.fanout_rewrite import sized_rewrite
from lakehouse_variance_spark.registry import register

TEXTS: dict[str, str] = {
    'imdb_lwl_37': r'''SELECT "name"."surname_pcode", avg("name"."id") as agg_0, avg("name"."imdb_id") as agg_1 FROM "name"  GROUP BY "name"."surname_pcode" ORDER BY "name"."surname_pcode"''',
    'imdb_lwl_127': r'''SELECT "title"."kind_id", "movie_info"."info_type_id", avg("movie_companies"."company_id" + "kind_type"."id") as agg_0, max("movie_keyword"."id") as agg_1, COUNT(*) as agg_2 FROM "kind_type" LEFT OUTER JOIN "title" ON "kind_type"."id" = "title"."kind_id" LEFT OUTER JOIN "movie_keyword" ON "title"."id" = "movie_keyword"."movie_id" LEFT OUTER JOIN "movie_info" ON "title"."id" = "movie_info"."movie_id" LEFT OUTER JOIN "movie_companies" ON "title"."id" = "movie_companies"."movie_id"  WHERE "movie_companies"."company_id" <= 14485 AND "movie_companies"."company_type_id" >= 2 AND CAST("kind_type"."kind" AS string) NOT LIKE '%video%' AND "kind_type"."id" = 1 GROUP BY "title"."kind_id", "movie_info"."info_type_id" ORDER BY "title"."kind_id", "movie_info"."info_type_id"''',
    'imdb_lwl_262': r'''SELECT "name"."gender", min("name"."imdb_id" + "aka_name"."id") as agg_0 FROM "aka_name" LEFT OUTER JOIN "name" ON "aka_name"."person_id" = "name"."id"  GROUP BY "name"."gender" ORDER BY "name"."gender"''',
    'imdb_lwl_271': r'''SELECT "title"."imdb_id", min("movie_keyword"."id" + "title"."id") as agg_0, min("title"."season_nr") as agg_1 FROM "movie_keyword" LEFT OUTER JOIN "title" ON "movie_keyword"."movie_id" = "title"."id" LEFT OUTER JOIN "keyword" ON "movie_keyword"."keyword_id" = "keyword"."id"  WHERE "title"."season_nr" >= 1.0 GROUP BY "title"."imdb_id" ORDER BY "title"."imdb_id"''',
    'imdb_lwl_280': r'''SELECT "title"."imdb_id", "company_type"."id", min("title"."episode_nr" + "title"."kind_id") as agg_0, COUNT(*) as agg_1, avg("company_name"."imdb_id" + "movie_companies"."company_id") as agg_2 FROM "company_name" LEFT OUTER JOIN "movie_companies" ON "company_name"."id" = "movie_companies"."company_id" LEFT OUTER JOIN "title" ON "movie_companies"."movie_id" = "title"."id" LEFT OUTER JOIN "company_type" ON "movie_companies"."company_type_id" = "company_type"."id" LEFT OUTER JOIN "kind_type" ON "title"."kind_id" = "kind_type"."id"  WHERE CAST("company_type"."kind" AS string) LIKE '%companies%' AND CAST("kind_type"."kind" AS string) NOT LIKE '%mov%ie%' GROUP BY "title"."imdb_id", "company_type"."id" ORDER BY "title"."imdb_id", "company_type"."id"''',
    'imdb_lwl_289': r'''SELECT "title"."series_years", CAST(sum("movie_companies"."company_id") AS BIGINT) as agg_0, min("movie_companies"."company_id") as agg_1 FROM "movie_companies" LEFT OUTER JOIN "company_type" ON "movie_companies"."company_type_id" = "company_type"."id" LEFT OUTER JOIN "title" ON "movie_companies"."movie_id" = "title"."id"  WHERE "title"."id" <= 1943506 AND "company_type"."kind" IN ('distributors', 'production companies') GROUP BY "title"."series_years" ORDER BY "title"."series_years"''',
    'imdb_lwl_298': r'''SELECT "kind_type"."kind", max("movie_info_idx"."info_type_id") as agg_0, max("movie_info_idx"."info_type_id") as agg_1 FROM "company_name" LEFT OUTER JOIN "movie_companies" ON "company_name"."id" = "movie_companies"."company_id" LEFT OUTER JOIN "title" ON "movie_companies"."movie_id" = "title"."id" LEFT OUTER JOIN "cast_info" ON "title"."id" = "cast_info"."movie_id" LEFT OUTER JOIN "kind_type" ON "title"."kind_id" = "kind_type"."id" LEFT OUTER JOIN "movie_info_idx" ON "title"."id" = "movie_info_idx"."movie_id"  WHERE "movie_info_idx"."movie_id" <= 2508802 AND CAST("title"."title" AS string) NOT LIKE '%an%d%' GROUP BY "kind_type"."kind" ORDER BY "kind_type"."kind"''',
    'imdb_lwl_316': r'''SELECT "name"."imdb_index", CAST(sum("name"."id") AS BIGINT) as agg_0, COUNT(*) as agg_1 FROM "person_info" LEFT OUTER JOIN "name" ON "person_info"."person_id" = "name"."id"  WHERE "person_info"."person_id" >= 328708 GROUP BY "name"."imdb_index" ORDER BY "name"."imdb_index"''',
    'imdb_lwl_325': r'''SELECT "movie_info"."info_type_id", avg("movie_keyword"."movie_id") as agg_0 FROM "keyword" LEFT OUTER JOIN "movie_keyword" ON "keyword"."id" = "movie_keyword"."keyword_id" LEFT OUTER JOIN "title" ON "movie_keyword"."movie_id" = "title"."id" LEFT OUTER JOIN "movie_info_idx" ON "title"."id" = "movie_info_idx"."movie_id" LEFT OUTER JOIN "movie_info" ON "title"."id" = "movie_info"."movie_id" LEFT OUTER JOIN "movie_companies" ON "title"."id" = "movie_companies"."movie_id"  WHERE CAST("movie_companies"."note" AS string) NOT LIKE '%(TV)%' AND "movie_info"."id" <= 11408621 AND "movie_companies"."company_type_id" != 2 GROUP BY "movie_info"."info_type_id" ORDER BY "movie_info"."info_type_id"''',
    'imdb_lwl_388': r'''SELECT "cast_info"."role_id", "aka_name"."imdb_index", max("cast_info"."person_role_id") as agg_0, CAST(sum("aka_name"."id" + "cast_info"."id") AS BIGINT) as agg_1, COUNT(*) as agg_2 FROM "cast_info" LEFT OUTER JOIN "aka_name" ON "cast_info"."person_id" = "aka_name"."id"  WHERE "cast_info"."id" <= 23424782 GROUP BY "cast_info"."role_id", "aka_name"."imdb_index" ORDER BY "cast_info"."role_id", "aka_name"."imdb_index"''',
    'imdb_lwl_496': r'''SELECT "info_type"."id", COUNT(*) as agg_0, COUNT(*) as agg_1 FROM "movie_info_idx" LEFT OUTER JOIN "info_type" ON "movie_info_idx"."info_type_id" = "info_type"."id" LEFT OUTER JOIN "title" ON "movie_info_idx"."movie_id" = "title"."id" LEFT OUTER JOIN "movie_info" ON "title"."id" = "movie_info"."movie_id"  WHERE "movie_info"."info_type_id" <= 10 GROUP BY "info_type"."id" ORDER BY "info_type"."id"''',
    'imdb_lwl_550': r'''SELECT "company_type"."kind", "company_type"."id", min("company_type"."id") as agg_0, CAST(sum("company_type"."id") AS BIGINT) as agg_1 FROM "company_type"  WHERE (CAST("company_type"."kind" AS string) LIKE '%comp%anies%' OR "company_type"."kind" IN ('special effects companies') OR CAST("company_type"."kind" AS string) NOT LIKE '%compa%nies%') AND "company_type"."id" >= 1 GROUP BY "company_type"."kind", "company_type"."id" ORDER BY "company_type"."kind", "company_type"."id"''',
    'imdb_lwl_577': r'''SELECT "title"."series_years", "company_type"."id", min("company_type"."id") as agg_0, COUNT(*) as agg_1 FROM "company_type" LEFT OUTER JOIN "movie_companies" ON "company_type"."id" = "movie_companies"."company_type_id" LEFT OUTER JOIN "title" ON "movie_companies"."movie_id" = "title"."id" LEFT OUTER JOIN "company_name" ON "movie_companies"."company_id" = "company_name"."id"  WHERE "title"."kind_id" >= 4 GROUP BY "title"."series_years", "company_type"."id" ORDER BY "title"."series_years", "company_type"."id"''',
    'imdb_lwl_631': r'''SELECT "cast_info"."role_id", "title"."kind_id", CAST(sum("title"."kind_id" + "cast_info"."person_id") AS BIGINT) as agg_0 FROM "title" LEFT OUTER JOIN "movie_keyword" ON "title"."id" = "movie_keyword"."movie_id" LEFT OUTER JOIN "kind_type" ON "title"."kind_id" = "kind_type"."id" LEFT OUTER JOIN "cast_info" ON "title"."id" = "cast_info"."movie_id" LEFT OUTER JOIN "keyword" ON "movie_keyword"."keyword_id" = "keyword"."id"  WHERE "keyword"."id" <= 82059 AND "keyword"."phonetic_code" IS NULL AND ("title"."title" IS NOT NULL OR CAST("title"."title" AS string) NOT LIKE '%i%n%') AND "cast_info"."nr_order" BETWEEN 4.95543576778584 AND 7.751225679239125 GROUP BY "cast_info"."role_id", "title"."kind_id" ORDER BY "cast_info"."role_id", "title"."kind_id"''',
    'imdb_lwl_694': r'''SELECT "char_name"."imdb_index", COUNT(*) as agg_0, min("char_name"."id" + "char_name"."imdb_id") as agg_1, avg("char_name"."id" + "char_name"."imdb_id") as agg_2 FROM "char_name"  GROUP BY "char_name"."imdb_index" ORDER BY "char_name"."imdb_index"''',
}

REF_RUNTIME_S: dict[str, float] = {
    'imdb_lwl_37': 4.48,
    'imdb_lwl_127': 0.2063,
    'imdb_lwl_262': 15.3,
    'imdb_lwl_271': 0.14901,
    'imdb_lwl_280': 1.07,
    'imdb_lwl_289': 0.14165,
    'imdb_lwl_298': 0.19594,
    'imdb_lwl_316': 0.1291,
    'imdb_lwl_325': 3.99,
    'imdb_lwl_388': 0.14504,
    'imdb_lwl_496': 0.57838,
    'imdb_lwl_550': 0.16682,
    'imdb_lwl_577': 3.31,
    'imdb_lwl_631': 0.20567,
    'imdb_lwl_694': 3.64,
}


def _register() -> None:
    for name, text in TEXTS.items():

        def run(spark: SparkSession, sf_dir: str, _text=text) -> DataFrame:
            register_job_views(spark, sf_dir)
            # Engine-side count-product rewrite (size-gated; the
            # oracle keeps the naive text, so every driver hash
            # match on a fired text proves the rewrite exact).
            rw = sized_rewrite(_text, 'job', spark)
            return synth.sql_quoted_idents(spark, rw)

        run.__name__ = name
        run.__doc__ = (
            'Reference-generated IMDB_LOCAL workload text ' + name + ' — '
            'identical normalized string on both engines.'
        )
        register(name, oracle=oracle_sql_for_job(text))(run)


_register()
