"""Schema evolution replay (FIXTURES.md F3): `tool` column arrives
mid-log (schema_version 2); turn_idx widening int->bigint; replay
across the cut is stable and pre-cut rows read as tool=NULL."""

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.schema import ColumnSpec, SchemaRegistry, TableSchema
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from tests.conftest import final_state_oracle, normalize

N = 3000


def test_registry_add_and_widen():
    reg = SchemaRegistry(TableSchema(0, [ColumnSpec(1, "a", "int"), ColumnSpec(2, "b", "string")]))
    s1 = reg.evolve([("a", "bigint"), ("c", "double")])
    assert s1.schema_id == 1
    assert s1.by_name("a").dtype == "bigint"
    assert s1.by_name("c").col_id == 3  # fresh id, never reused
    # narrowing is rejected
    with pytest.raises(ValueError):
        reg.evolve([("b", "int")])
    # re-sending the narrower original type is a no-op, not an error
    s2 = reg.evolve([("a", "int")])
    assert s2.schema_id == 1


def test_mid_log_tool_column(spark, tmp_path):
    log = changelog(spark, N, n_convs=60, turns_per_conv=6, seed=5, schema_cut=0.5)
    # physically drop `tool` from v1 events: the log's encoding really changes
    v1 = log.filter("schema_version = 1").drop("tool")
    v2 = log.filter("schema_version = 2")

    table = create_transcripts_table(spark, str(tmp_path / "tbl"), n_buckets=8)
    cp = CheckpointStore(str(tmp_path / "cp"))
    # v1 slice first (table schema has no tool), then v2 slice (evolves)
    CdcPipeline(spark, table, cp, changelog=v1).run(end_lsn=N // 2, batch_size=500)
    assert "tool" not in table.schema.names()
    CdcPipeline(spark, table, cp, changelog=v2).run(
        end_lsn=N, batch_size=500, start_lsn=N // 2
    )
    assert "tool" in table.schema.names()

    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, want)
    # keys whose winning event is v1 must read tool as NULL
    winners = want.merge(
        log.toPandas()[["lsn", "schema_version"]], on="lsn", how="left"
    )
    v1_keys = winners[winners["schema_version"] == 1]
    assert v1_keys["tool"].isna().all()


def test_mor_mid_log_evolution(spark, tmp_path):
    """MOR + mid-log evolution: pre-cut delta files (no `tool` column)
    stay in the manifest forever (append-only), so the scan MUST read
    each file group with its written schema — footer inference from the
    lexicographically-first old file would silently NULL `tool` for
    every row, including post-cut files that carry real values."""
    log = changelog(spark, N, n_convs=60, turns_per_conv=6, seed=7, schema_cut=0.5)
    v1 = log.filter("schema_version = 1").drop("tool")
    v2 = log.filter("schema_version = 2")

    table = create_transcripts_table(
        spark, str(tmp_path / "tblm"), n_buckets=8
    )
    cp = CheckpointStore(str(tmp_path / "cpm"))
    CdcPipeline(spark, table, cp, changelog=v1).run(end_lsn=N // 2, batch_size=500)
    CdcPipeline(spark, table, cp, changelog=v2).run(
        end_lsn=N, batch_size=500, start_lsn=N // 2
    )
    assert "tool" in table.schema.names()

    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, want)
    # the regression signature: evolved column all-NULL despite v2 data
    assert got["tool"].notna().any()


def test_type_widening_on_merge(spark, tmp_path):
    log = changelog(spark, 500, n_convs=20, seed=6)
    table = create_transcripts_table(spark, str(tmp_path / "tblw"), n_buckets=4)
    cp = CheckpointStore(str(tmp_path / "cpw"))
    CdcPipeline(spark, table, cp, changelog=log).run(end_lsn=250, batch_size=250)
    assert table.schema.by_name("turn_idx").dtype == "int"
    # second half arrives with turn_idx widened to bigint in the encoding
    from pyspark.sql import functions as F

    widened = log.withColumn("turn_idx", F.col("turn_idx").cast("bigint"))
    CdcPipeline(spark, table, cp, changelog=widened).run(
        end_lsn=500, batch_size=250, start_lsn=250
    )
    assert table.schema.by_name("turn_idx").dtype == "bigint"
    got = table.read().toPandas()
    want = final_state_oracle(log.toPandas())
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["text"].reset_index(drop=True), want["text"].reset_index(drop=True)
    )
