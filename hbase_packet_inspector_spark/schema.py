"""Schemas for the HPI data model (SURVEY.md §1.4, FIXTURES.md).

Reference DDL: /root/reference/src/hbase_packet_inspector/sink/db.clj:8-37.
The four public tables are ``requests``, ``responses`` (= requests +
error/elapsed), ``actions`` (children of batch requests), ``results``
(= actions + error). Join key: (client, port, call_id) — call_id is NOT
globally unique (reference README.md:133-135).
"""

from __future__ import annotations

from pyspark.sql import types as T

# One child action of a `multi` (batch) request — order-significant
# (reference hbase.clj:188-201; positional zip with results, hbase.clj:49-69).
ACTION_STRUCT = T.StructType(
    [
        T.StructField("method", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("row", T.StringType()),
        T.StructField("cells", T.IntegerType()),
        T.StructField("durability", T.StringType()),
    ]
)

RESULT_STRUCT = T.StructType(
    ACTION_STRUCT.fields + [T.StructField("error", T.StringType())]
)

# Ingestion format: one row per decoded RPC message, capture order
# (FIXTURES.md §1; reference core.clj:187-191, hbase.clj:208-245).
RPC_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("inbound", T.BooleanType(), False),
        T.StructField("client", T.StringType(), False),
        T.StructField("port", T.IntegerType(), False),
        T.StructField("server", T.StringType(), False),
        T.StructField("call_id", T.IntegerType(), False),
        T.StructField("method", T.StringType()),
        T.StructField("size", T.IntegerType(), False),
        T.StructField("table", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("row", T.StringType()),
        T.StructField("stoprow", T.StringType()),
        T.StructField("cells", T.IntegerType()),
        T.StructField("durability", T.StringType()),
        T.StructField("scanner", T.LongType()),
        T.StructField("caching", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("actions", T.ArrayType(ACTION_STRUCT)),
        T.StructField("results", T.ArrayType(RESULT_STRUCT)),
    ]
)

# Raw TCP chunk stream for the reassembly operator (SURVEY.md §2 B4/B5).
TCP_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("client", T.StringType(), False),
        T.StructField("port", T.IntegerType(), False),
        T.StructField("server", T.StringType(), False),
        T.StructField("src_port", T.IntegerType(), False),
        T.StructField("dst_port", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)

REQUEST_COLUMNS = [
    "ts", "client", "port", "call_id", "server", "method", "size", "batch",
    "table", "region", "row", "stoprow", "cells", "durability",
]
RESPONSE_COLUMNS = REQUEST_COLUMNS + ["error", "elapsed"]
ACTION_COLUMNS = [
    "client", "port", "call_id", "method", "table", "region", "row", "cells",
    "durability",
]
RESULT_COLUMNS = ACTION_COLUMNS + ["error"]

# Request attributes a response inherits on match, in batch and stream alike
# (the reference merges the pending request map UNDER the response map,
# hbase.clj:74-84 — so e.g. a mutate response, whose body decodes to nothing,
# inherits the request's cells; scan/get/multi responses carry their own
# non-null cells and win).
REQUEST_MERGE_FIELDS = (
    "method", "table", "region", "row", "stoprow", "cells", "durability",
    "caching", "actions",
)

# Correlation-state TTL (event-time ms) — reference core.clj:69-72.
STATE_EXPIRATION_MS = 120_000

# Framing validity bound — reference core.clj:100 (256 MiB).
MAX_RPC_MESSAGE_BYTES = 256 * 1024 * 1024

# Default monitored RegionServer ports — reference core.clj:65-67.
DEFAULT_PORTS = (16020, 60020)
