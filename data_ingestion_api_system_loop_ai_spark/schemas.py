"""Pipeline constants shared by the batch and streaming forms, and the
table list of the test star schema.

The reference keeps shapes implicit (plain JS objects, validated by two
hand-written checks — reference ``src/controllers/ingestController.js:10-15``).
Here the one record that arrives from outside, the ``POST /ingest`` body,
has a fixed DDL schema where it is read (``streaming/live.py``
``REQUEST_WIRE_SCHEMA``, ``sources/wire_source.py`` ``WIRE_SCHEMA``) and
engine-side validation (``operators/pipeline.py``); the test tables take
their schemas from their parquet files. See SURVEY.md section 1.3.
"""

from __future__ import annotations

BATCH_SIZE = 3  # reference src/services/ingestService.js:6
RATE_LIMIT_MS = 5000  # reference src/services/ingestService.js:5

# every table of a test-data directory (TESTDATA.md), registered as a
# temp view by sources/loader.register_views under the same name
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
