"""Declared input-table schemas (tables.TABLE_SCHEMAS) against the
parquet footers they replace: read_table trusts the declaration and
never reads a footer, so a drifted declaration would null-fill or
mistype columns silently instead of failing."""

import os

from docling_fast_server_spark.tables import TABLE_SCHEMAS, read_table


def test_declared_schemas_match_parquet_footers(spark, sf_dir):
    for name in TABLE_SCHEMAS:
        path = f"{sf_dir}/{name}.parquet"
        assert os.path.exists(path), path
        declared = read_table(spark, sf_dir, name).schema
        footer = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in declared] == [
            (f.name, f.dataType) for f in footer
        ], name
