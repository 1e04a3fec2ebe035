"""Schemas: the CloudEvents feed envelope and driver-table catalog.

The envelope is the normative CloudEvents field table of the HTTP Feeds
spec (/root/reference/README.md:306-316): fixed envelope, dynamic payload.
``data`` stays a JSON *string* at ingest (the spec's payload is schemaless,
per-`type` schemas, README.md:310,316,318); downstream projections apply
``from_json`` per event type.

``seq`` is engine-minted: the spec requires ids to be "strongly ordered"
and position-stable under deletion (README.md:148-159), sanctioning either
time-ordered UUIDv6 or a composite ``sequence::uuid`` id whose numeric
prefix carries the order (README.md:159). We materialize that order as an
explicit BIGINT so offset scans are a pushdown-friendly range predicate.
"""

from __future__ import annotations

from pyspark.sql import types as T

# CloudEvents envelope (README.md:306-316) + engine-minted `seq`.
ENVELOPE = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),           # engine: total order
        T.StructField("specversion", T.StringType(), False), # "1.0"           (:308)
        T.StructField("id", T.StringType(), False),          # cursor identity (:309)
        T.StructField("type", T.StringType(), False),        # event type      (:310)
        T.StructField("source", T.StringType(), False),      # producer URI    (:311)
        T.StructField("time", T.TimestampType(), False),     # append time     (:312)
        T.StructField("subject", T.StringType(), True),      # aggregate key   (:313)
        T.StructField("method", T.StringType(), True),       # PUT | DELETE    (:314)
        T.StructField("datacontenttype", T.StringType(), True),  #             (:315)
        T.StructField("data", T.StringType(), True),         # JSON payload    (:316)
    ]
)

# Envelope WITHOUT seq — the on-the-wire shape (what an HTTP batch carries).
WIRE_ENVELOPE = T.StructType([f for f in ENVELOPE.fields if f.name != "seq"])

# Driver synthetic tables (FIXTURES.md §2). Parquet is self-describing; this
# catalog exists for validation and for readStream (which requires schemas).
TABLE_NAMES = [
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
]

# --- per-type payload schema registry (README.md:310: `type` "may be used
# to specify and deserialize the payload") ----------------------------------
#
# The spec's payload is schemaless per envelope but typed per event `type`.
# Consumers register one StructType per type; parsing then happens ONCE per
# row with the merged union schema (from_json ignores absent fields), and
# per-type projections are generated from the registry — at 100 schemas the
# plan still contains a single JsonToStructs, not 100 conditional parses.

_PAYLOAD_SCHEMAS: dict[str, T.StructType] = {}


def register_payload_schema(event_type: str, schema: T.StructType) -> None:
    """Register (or replace) the payload schema for one event type."""
    _PAYLOAD_SCHEMAS[event_type] = schema


def registered_payload_types() -> list[str]:
    return sorted(_PAYLOAD_SCHEMAS)


def merged_payload_schema() -> T.StructType:
    """Union of all registered payload fields (name-keyed). A field name
    claimed by two types with different Spark types is a registry error —
    surfaced here, at plan time, not as silent nulls at run time."""
    fields: dict[str, T.StructField] = {}
    for event_type, schema in sorted(_PAYLOAD_SCHEMAS.items()):
        for f in schema.fields:
            prev = fields.get(f.name)
            if prev is not None and prev.dataType != f.dataType:
                raise TypeError(
                    f"payload field {f.name!r} registered with conflicting types "
                    f"({prev.dataType} vs {f.dataType} from {event_type!r})"
                )
            fields[f.name] = f
    return T.StructType([fields[n] for n in sorted(fields)])


def parse_payloads(df, type_col: str = "type", data_col: str = "data"):
    """Parse the JSON payload into a typed ``payload`` struct column using
    the merged registry schema — one JsonToStructs for the whole feed.
    Rows of unregistered types parse too (absent fields are null); use
    :func:`typed_payload_columns` for per-type projections."""
    from pyspark.sql import functions as F

    return df.withColumn("payload", F.from_json(F.col(data_col), merged_payload_schema()))


def typed_payload_columns(type_col: str = "type", types: list[str] | None = None):
    """One typed column per (registered type, field): ``<field>`` gated on
    the row's type — the registry-driven routing projection. Generated
    from the registry, so adding a 101st schema changes no query code.
    ``types`` pins the projection to a subset (default: every registered
    type, sorted)."""
    from pyspark.sql import functions as F

    cols = []
    for event_type in sorted(types) if types is not None else registered_payload_types():
        schema = _PAYLOAD_SCHEMAS[event_type]
        short = event_type.rsplit(".", 1)[-1]
        for f in schema.fields:
            cols.append(
                F.when(F.col(type_col) == event_type, F.col(f"payload.{f.name}"))
                .alias(f"{short}_{f.name}")
            )
    return cols


# --- VARIANT payload path (SURVEY §1.3: "keep `data` as a JSON string at
# ingest ... project with from_json/get_json_object/variant per event type
# downstream") ---------------------------------------------------------------
#
# The registry above serves DECLARED payload types. For types nobody
# registered — the long tail of a 100-type feed — Spark 4's VariantType is
# the right carrier: parse once into a self-describing binary encoding
# (typed, shredding-friendly, ~8× faster to re-project than re-parsing JSON
# strings), then extract paths with variant_get at whatever type the
# consumer asserts. No schema registration, no merged-schema conflict
# surface; exact equivalence with the registry path for fields both can see
# is pinned in tests/test_schema_registry.py.


def parse_payload_variant(df, data_col: str = "data", out_col: str = "payload_v"):
    """Parse the JSON payload into one VARIANT column (Spark 4
    ``parse_json``). Unlike :func:`parse_payloads` this needs NO
    registered schemas: every well-formed payload of every event type —
    including never-registered ones — becomes navigable. Malformed JSON
    raises; use ``try_parse_json`` semantics via :func:`try_parse_payload_variant`
    when the feed may carry junk."""
    from pyspark.sql import functions as F

    return df.withColumn(out_col, F.parse_json(F.col(data_col)))


def try_parse_payload_variant(df, data_col: str = "data", out_col: str = "payload_v"):
    """Lenient twin of :func:`parse_payload_variant`: malformed payloads
    yield NULL instead of failing the job (the right default for raw
    ingest at scale)."""
    from pyspark.sql import functions as F

    return df.withColumn(out_col, F.try_parse_json(F.col(data_col)))


def variant_field(path: str, sql_type: str, variant_col: str = "payload_v"):
    """Typed extraction from the VARIANT payload: ``$.path`` cast to
    `sql_type` (``variant_get`` — errors on an incompatible actual type;
    swap in try_variant_get for null-on-mismatch)."""
    from pyspark.sql import functions as F

    return F.variant_get(F.col(variant_col), f"$.{path}", sql_type)


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)
