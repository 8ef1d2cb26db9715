"""Engine configuration.

Replaces the reference's env-var singleton (`src/config/settings.py:20-135`)
with a frozen dataclass whose validation actually runs (the reference's
``validate()`` was never invoked and had an operator-precedence bug,
`settings.py:60-63`). No cloud coupling in the core engine: catalog/warehouse
locations are plain parameters; the AWS Glue/S3 binding of the reference
(`src/utils/spark/spark_utils.py:42-56`) is environment config, not semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Session + catalog settings for the engine.

    Defaults target the local test environment (single JVM, local
    filesystem warehouse); on a real cluster only ``master``,
    ``warehouse`` and the catalog options change.
    """

    app_name: str = "spark-lakehouse-engine"
    master: str = field(
        default_factory=lambda: f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    shuffle_partitions: int = field(
        default_factory=lambda: int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    warehouse: str = field(
        default_factory=lambda: os.environ.get(
            "ENGINE_WAREHOUSE", "/tmp/engine-warehouse"
        )
    )
    catalog_name: str = "lake"
    # Iceberg is optional: the runtime jar is not in this image, so the
    # default table format is the parquet-snapshot fallback in tables.py.
    use_iceberg: bool = False
    timezone: str = "UTC"
    driver_memory: str = field(
        default_factory=lambda: os.environ.get("ENGINE_DRIVER_MEMORY", "8g")
    )
    ui_enabled: bool = False

    def __post_init__(self) -> None:
        for name in ("app_name", "master", "warehouse", "catalog_name"):
            value = getattr(self, name)
            if not isinstance(value, str) or not value:
                raise ValueError(f"EngineConfig.{name} must be a non-empty string")
        if self.shuffle_partitions < 1:
            raise ValueError("EngineConfig.shuffle_partitions must be >= 1")
