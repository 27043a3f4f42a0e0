"""Schemas: transcripts input, postings, lexicon, manifests.

The transcripts shape is fixed by the engine contract:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp). Document identity is `doc_id = conv_id || ':' || turn_idx`,
mirroring the reference's composite message ids (reference:
app/connectors_service/connectors/sources/slack/datasource.py:205-207)
and its string-`_id` invariant (reference: app/connectors_service/
connectors/utils.py:794-800 sanitize()).
"""

from __future__ import annotations

import numbers

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def arrow_frame(spark, rows: list[tuple], ddl: str):
    """A DataFrame of the driver-side `rows`, typed by the DDL schema
    `ddl`, handed to the JVM as one Arrow table. A small table becomes a
    local relation the JVM reads directly — no Python worker and no
    pickled RDD, which `createDataFrame` of a list builds and every
    broadcast or scan of the frame then runs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T._parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema), schema)


def sql_in(col: str, values) -> Column:
    """`col IN (values)` as one parsed SQL expression. `Column.isin`
    makes a py4j call per literal (about 1 ms each), which turned a
    200-query batch's ~500 distinct terms into 0.5-1.7 s of driver time
    per filter. Values are str or int (numpy ints included); any other
    type raises TypeError rather than being coerced (int() would
    truncate a float). An empty list is a false predicate, as with
    `Column.isin([])`."""
    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, numbers.Integral) and not isinstance(v, bool):
            return str(int(v))
        raise TypeError(
            f"sql_in({col!r}): {type(v).__name__} value {v!r}; "
            "expected str or int")
    lits = [lit(v) for v in values]
    if not lits:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({','.join(lits)})")


TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Uncompressed postings: one row per (term, doc).
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tf", T.LongType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
    ]
)

# Encoded postings: one row per (term, shard); doc ids delta+varint packed.
ENCODED_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("n_shards", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("doc_gaps", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),
        T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
        T.StructField("block_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("block_tf_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("block_dl_offsets", T.ArrayType(T.LongType()), False),
        T.StructField("block_pos_offsets", T.ArrayType(T.LongType()), True),
        T.StructField("block_max_w", T.ArrayType(T.DoubleType()), False),
    ]
)

LEXICON_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

DOCMAP_SCHEMA = T.StructType(
    [
        T.StructField("doc_idx", T.LongType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)

# Per-partition build checkpoint rows — mirrors the reference's sync-job
# doc status machine + counters (reference: app/connectors_service/
# connectors/protocol/connectors.py:105-113, 84-93).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("cursor", T.StringType(), True),
    ]
)

# The "existing index" view used for diffs — mirrors
# yield_existing_documents_metadata (reference: app/connectors_service/
# connectors/es/management_client.py:191-212).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
