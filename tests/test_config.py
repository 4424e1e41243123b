"""Engine config surface tests: the reference options (options.py) that the
pipeline reads, and the refusal of the rest."""

from __future__ import annotations

import json
from dataclasses import fields

import pytest

from sqlserver_cdc_to_kafka_spark.config import EngineConfig


def test_defaults_mirror_reference():
    c = EngineConfig()
    assert c.db_row_batch_size == 2000  # options.py:282-285 default
    assert c.topic_name_template == "{schema_name}_{table_name}_cdc"
    assert not c.disable_deletion_tombstones
    assert c.table_followed("dbo.orders") and c.table_snapshotted("dbo.orders")


def test_fields_are_the_options_the_pipeline_reads():
    assert [f.name for f in fields(EngineConfig)] == [
        "db_row_batch_size",
        "table_include_regex",
        "table_exclude_regex",
        "snapshot_table_include_regex",
        "snapshot_table_exclude_regex",
        "topic_name_template",
        "disable_deletion_tombstones",
    ]


def test_validation_rejects_bad_values():
    with pytest.raises(ValueError):
        EngineConfig(db_row_batch_size=0)


def test_table_filters():
    c = EngineConfig(
        table_include_regex=r"^dbo\.",
        table_exclude_regex=r"_audit$",
        snapshot_table_exclude_regex=r"^dbo\.big",
    )
    assert c.table_followed("dbo.orders")
    assert not c.table_followed("sales.orders")
    assert not c.table_followed("dbo.orders_audit")
    assert c.table_snapshotted("dbo.orders")
    assert not c.table_snapshotted("dbo.big_table")  # followed but not snapshotted
    assert c.table_followed("dbo.big_table")


def test_topic_template_and_json_roundtrip():
    c = EngineConfig(topic_name_template="cdc.{schema_name}.{table_name}")
    assert c.topic_for("dbo", "orders") == "cdc.dbo.orders"
    c2 = EngineConfig.from_json(
        '{"db_row_batch_size": 500, "snapshot_table_exclude_regex": "^dbo\\\\.big"}'
    )
    assert c2.db_row_batch_size == 500
    assert c2.snapshot_table_exclude_regex == r"^dbo\.big"
    assert not c2.table_snapshotted("dbo.big_table")


@pytest.mark.parametrize("key", ["lsn_gap_handling", "run_validations", "truncate_fields"])
def test_from_json_names_unsupported_keys(key):
    """A reference option the engine does not honour is refused by name, with
    the accepted fields listed, instead of a TypeError from ``__init__``."""
    with pytest.raises(ValueError, match=key) as err:
        EngineConfig.from_json(json.dumps({"db_row_batch_size": 5, key: 1}))
    assert "topic_name_template" in str(err.value)


def test_config_drives_components():
    """The serializer and reporter factories take the reference's option
    values directly; they are not config fields."""
    from sqlserver_cdc_to_kafka_spark.serializers import get_serializer
    from sqlserver_cdc_to_kafka_spark.streaming.metrics import load_reporters

    assert len(load_reporters("stdout, memory")) == 2
    assert get_serializer("json").__class__.__name__ == "JsonSerializer"
