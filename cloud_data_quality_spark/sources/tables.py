"""Testdata table names and the default scale-factor directory.

The driver testdata is a TPC-H-ish star schema plus `events`, `documents`,
`embeddings` (TESTDATA.md). At 100 TB these would be Iceberg tables with
partition transforms; locally they are single parquet files — the reader API
is the only thing that changes (spark.read.table vs spark.read.parquet), which
is why Entity carries a `source_format` (config/model.py).
"""

from __future__ import annotations

import os

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
