"""Canonical schemas for the KG-construction pipeline tables."""

from __future__ import annotations

from pyspark.sql import types as T

# Input (BASELINE.json input_hint): Common-Crawl-style pages.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),  # expected text (oracle column)
        T.StructField("lang", T.StringType(), True),
    ]
)

# Alias dictionary (FIXTURES.md §2) — the RetireJS/EMBA pattern-DB analog.
ALIAS_DICT_SCHEMA = T.StructType(
    [
        T.StructField("entity_key", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'name' | 'content'
        T.StructField("pattern", T.StringType(), False),
        T.StructField("canonical_id_hint", T.StringType(), True),
    ]
)

# Mention rows emitted by the detection UDF (per unique content × entity).
MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("entity_key", T.StringType(), False),
        T.StructField("version", T.StringType(), True),
        T.StructField("confidence", T.IntegerType(), False),
        T.StructField("matched_via", T.StringType(), False),  # 'name' | 'content'
    ]
)

# Extraction output: one row per page with decompressed/parsed fields.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("host", T.StringType(), True),
    ]
)

# Graph tables (FIXTURES.md §4).
NODES_SCHEMA = T.StructType(
    [
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("node_type", T.StringType(), False),  # page|entity|host
        T.StructField("sha256", T.StringType(), True),
        T.StructField("names", T.ArrayType(T.StringType()), True),
        T.StructField("urls", T.ArrayType(T.StringType()), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Entity map: every dictionary or alias key → its component's canonical id.
ENTITY_MAP_SCHEMA = T.StructType(
    [
        T.StructField("entity_key", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("member_keys", T.ArrayType(T.StringType(), False), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType(), False),
        T.StructField("output_rows", T.LongType(), False),
        T.StructField("output_bytes", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

PRED_USES = "Uses"
PRED_LINKS_TO = "LinksTo"
PRED_CONTAINS = "Contains"
PRED_INSTALLS = "Installs"  # package → payload file (J5, rpmfile_relationship.py)
