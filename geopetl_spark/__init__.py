"""geopetl_spark — a PySpark-native CDC/incremental-ingest engine.

A from-scratch rebuild of CityOfPhiladelphia/geopetl's extract/transform/load
semantics (reference read-only at /root/reference) recast per BASELINE.json's
north rule: binlog/WAL-tail -> lake upsert over tokenized training sequences,
with exactly-once epoch commits, LSN-ordered dedup, additive schema
evolution, and per-epoch lineage. Spark-first: DataFrame/SQL plans optimized
by Catalyst; vectorized pandas/Arrow UDFs only where built-ins can't express
the semantics; no per-row Python anywhere.

Public surface mirrors the reference's verbs:
  read_source/from_parquet/from_csv  ~ fromgis/frompostgis/fromoraclesde
  LakeTable.write(mode='overwrite')  ~ tooraclesde/topostgis (truncate+load)
  LakeTable.write(mode='append')     ~ appendoraclesde/appendpostgis
  LakeTable.merge                    ~ the increment=True upsert path,
                                       upgraded to exactly-once CDC MERGE
  extract_table_schema               ~ oracle/postgres_extract_table_schema
"""

from .session import get_spark
from .schema import (
    schema_to_doc,
    doc_to_schema,
    write_schema_doc,
    read_schema_doc,
    diff_schemas,
    evolve_schema,
)
from .sources.readers import from_parquet, from_csv, from_json, from_table
from .sources.registry import read_source, write_sink
from .sources.cdc_gen import generate_cdc_events, write_cdc_log
from .lake.table import CommitConflict, LakeTable
from .operators.dedup_cdc import event_order, latest_per_key
from .operators.dedup_text import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from .operators.ann import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    ivf_train_centroids,
    lsh_bucketed_topk,
    lsh_config_for,
)
from .operators.asof import asof_join
from .operators.components import component_stats, dup_components
from .operators.range_join import range_join
from .operators.sample import deterministic_sample, pack_sequences, split_by_hash
from .functions.bpe import bpe_encode, train_bpe_merges
from .functions.sql_registry import register_sql_functions
from . import catalog
from .transforms import (
    sanitize_tokens,
    normalize_strings,
    reproject_tokens,
    tag_payload,
    strip_payload_tag,
)
from .sources.jdbc import from_jdbc, to_jdbc, compile_jdbc_options


def extract_table_schema(table: LakeTable, out_path: str) -> dict:
    """S9 analog (oracle_sde.py:447-488 / postgis.py:505-543): dump the
    table's schema as a frictionless-style JSON document."""
    m = table.manifest()
    doc = schema_to_doc(table.schema(), primary_key=[m["key_col"]],
                        table_props={"n_buckets": m["n_buckets"]})
    write_schema_doc(doc, out_path)
    return doc


__all__ = [
    "get_spark",
    "from_parquet", "from_csv", "from_json", "from_table",
    "read_source", "write_sink",
    "generate_cdc_events", "write_cdc_log",
    "LakeTable", "extract_table_schema",
    "event_order", "latest_per_key",
    "sanitize_tokens", "normalize_strings", "reproject_tokens",
    "tag_payload", "strip_payload_tag",
    "from_jdbc", "to_jdbc", "compile_jdbc_options",
    "schema_to_doc", "doc_to_schema", "write_schema_doc", "read_schema_doc",
    "diff_schemas", "evolve_schema",
    "CommitConflict", "catalog", "asof_join", "register_sql_functions",
    "exact_dup_groups", "ngram_jaccard_pairs", "minhash_lsh_pairs",
    "simhash", "simhash_pairs",
    "cosine_topk", "lsh_bucketed_topk", "embedding_near_dup_pairs",
    "lsh_config_for", "ivf_topk", "ivf_train_centroids",
    "component_stats", "dup_components",
    "deterministic_sample", "pack_sequences", "split_by_hash",
    "bpe_encode", "train_bpe_merges", "range_join",
]
