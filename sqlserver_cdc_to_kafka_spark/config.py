"""Engine configuration: the options of the reference (``cdc_kafka/options.py``)
that the pipeline reads, as a typed config object.

An operator of the reference carries these across under their reference
names: the row batch size, the table and snapshot include/exclude regexes,
the topic name template and the deletion-tombstone switch. The reference's
other options (progress topic, serializer, LSN gap and capture-instance
handling, partitions, metrics reporters, ...) have no effect on the
pipeline here, so they are not fields: ``from_json`` refuses them by name
rather than accept a setting that would change nothing.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, fields
from typing import Any


@dataclass
class EngineConfig:
    db_row_batch_size: int = 2000  # --db-row-batch-size (options.py:282-285)
    table_include_regex: str | None = None  # --table-include-regex
    table_exclude_regex: str | None = None  # --table-exclude-regex
    snapshot_table_include_regex: str | None = None  # --snapshot-table-include-regex
    snapshot_table_exclude_regex: str | None = None  # --snapshot-table-exclude-regex
    topic_name_template: str = "{schema_name}_{table_name}_cdc"  # --topic-name-template
    disable_deletion_tombstones: bool = False  # --disable-deletion-tombstones

    def __post_init__(self) -> None:
        if self.db_row_batch_size < 1:
            raise ValueError("db_row_batch_size must be positive")

    # --- behavior helpers (consumed by the engine components) ------------

    def table_followed(self, fq_name: str) -> bool:
        """P7: include/exclude regex filter over 'schema.table'."""
        if self.table_include_regex and not re.search(self.table_include_regex, fq_name):
            return False
        if self.table_exclude_regex and re.search(self.table_exclude_regex, fq_name):
            return False
        return True

    def table_snapshotted(self, fq_name: str) -> bool:
        if not self.table_followed(fq_name):
            return False
        if self.snapshot_table_include_regex and not re.search(
            self.snapshot_table_include_regex, fq_name
        ):
            return False
        if self.snapshot_table_exclude_regex and re.search(
            self.snapshot_table_exclude_regex, fq_name
        ):
            return False
        return True

    def topic_for(self, schema_name: str, table_name: str) -> str:
        """F14: topic-name templating."""
        return self.topic_name_template.format(
            schema_name=schema_name, table_name=table_name
        )

    @classmethod
    def from_json(cls, raw: str) -> "EngineConfig":
        """F16: JSON config parsing (env/file-based deployments). A key that
        is not a field raises ``ValueError`` naming it, so a reference
        setting the engine does not honour is reported, not dropped."""
        data: dict[str, Any] = json.loads(raw)
        accepted = [f.name for f in fields(cls)]
        unknown = sorted(set(data) - set(accepted))
        if unknown:
            raise ValueError(
                f"unsupported options {unknown}; accepted: {', '.join(accepted)}"
            )
        return cls(**data)
