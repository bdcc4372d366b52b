"""The ingest oracle merges duplicate ids by merge_fast's length rule, also
when a record's arrays are all empty."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from ingest_fast_spark.queries import fastq as fq  # noqa: E402

import workloads  # noqa: E402

DOCS = """
docs AS (
  SELECT * FROM (VALUES
    (7, 7, 'Chronological', NULL, []::VARCHAR[], []::VARCHAR[], []::VARCHAR[], []::VARCHAR[]),
    (7, 7, 'Geographic',    NULL, []::VARCHAR[], []::VARCHAR[], []::VARCHAR[], []::VARCHAR[]),
    (8, 8, 'Geographic',    'ab', ['x'],         []::VARCHAR[], []::VARCHAR[], []::VARCHAR[]),
    (8, 8, 'Topical',       NULL, []::VARCHAR[], []::VARCHAR[], []::VARCHAR[], []::VARCHAR[])
  ) AS t(_id, fast, type, prefLabel, altLabel, sameAsLc, sameAsViaf, normalized)
)"""


def _types(merged_sql: str) -> dict:
    sql = f"WITH {DOCS},{merged_sql} SELECT _id, type FROM merged"
    return dict(duckdb.connect().execute(sql).fetchall())


def test_empty_arrays_weigh_zero():
    # Chronological 13 > Geographic 10; Geographic 10 + 2 + 1 = 13 > Topical 7.
    assert _types(workloads._merged_with_zero_weight(fq._sql_merged("docs"))) == {7: "Chronological", 8: "Geographic"}


def test_unpatched_weight_falls_back_to_the_type_name():
    # The defect the patch works around: the all-empty record weighs NULL.
    assert _types(fq._sql_merged("docs"))[7] == "Geographic"
