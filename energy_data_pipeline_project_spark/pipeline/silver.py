"""Bronze → silver: one generic Catalyst plan for every payload shape.

Replaces the reference's two hand-written transforms
(/root/reference/src/transformations/bronze_to_silver.py:50-106 power,
:108-159 price) with a single declarative extractor driven by
``ExtractSpec``. Semantics preserved exactly:

- schema-on-read ``from_json`` with an explicit payload schema; the
  time array is declared ``array<double>`` then cast to ``array<long>``
  (the reference's defensive "type laundering", SURVEY.md §1.3).
- entity shape: explode the entity-struct array (Generate #1), zip the
  time array against each entity's values (``arrays_zip`` pads the
  shorter array with nulls), explode the pairs (Generate #2).
- probe shape: ``get_json_object`` JSONPath probes over candidate
  field names, first non-null via ``coalesce`` (schema drift
  tolerance).
- epoch→timestamp via ``timestamp_seconds``: instant-exact in any
  session TZ and loud on overflow, where the reference's round trip
  through a formatted string is neither. ``to_date`` day bucketing
  still follows the session TZ, which session.py pins to UTC.
- rows with null timestamp OR null value are dropped (this is the
  late/misaligned-data policy: zip-padded tails vanish here).

Cardinality: 1 bronze row/day → ×|entities| → ×|time slots|. At
100 TB this plan is two Generates inside one codegen stage — no
shuffle at all until the gold aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .config import DatasetSpec


def _payload_schema(spec) -> T.StructType:
    fields = [T.StructField(spec.time_field, T.ArrayType(T.DoubleType()))]
    if spec.entity_array:
        fields.append(
            T.StructField(
                spec.entity_array,
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField(spec.entity_name_field, T.StringType()),
                            T.StructField(
                                spec.entity_values_field,
                                T.ArrayType(T.DoubleType()),
                            ),
                        ]
                    )
                ),
            )
        )
    return T.StructType(fields)


def extract_timeseries(bronze: DataFrame, dataset: DatasetSpec) -> DataFrame:
    """Long-format rows from bronze payload_json, per ``ExtractSpec``."""
    spec = dataset.extract
    if not spec.entity_array and not spec.value_probes:
        # load_config validates YAML specs, but a directly-constructed
        # DatasetSpec with the default ExtractSpec would reach the bare
        # F.coalesce() below and die with an opaque TypeError: guard
        # here so every caller gets the named error
        raise ValueError(
            f"dataset {dataset.name!r} has no extract shape: set"
            " extract.entity_array or extract.value_probes"
        )
    keep = [dataset.key_column] + (["date"] if dataset.include_date else [])

    if spec.entity_array:
        payload = F.from_json("payload_json", _payload_schema(spec))
        exploded = (
            bronze.withColumn("payload", payload)
            .select(
                *keep,
                F.col(f"payload.{spec.time_field}")
                .cast("array<long>")
                .alias("_t"),
                F.explode(f"payload.{spec.entity_array}").alias("_e"),
            )
            .select(
                *keep,
                "_t",
                F.col(f"_e.{spec.entity_name_field}").alias(
                    dataset.entity_column or "entity"
                ),
                F.col(f"_e.{spec.entity_values_field}").alias("_vals"),
            )
        )
        entity_cols = [dataset.entity_column or "entity"]
    else:
        time_json = F.get_json_object("payload_json", f"$.{spec.time_field}")
        probes = [
            F.from_json(
                F.get_json_object("payload_json", f"$.{p}"),
                T.ArrayType(T.DoubleType()),
            )
            for p in spec.value_probes
        ]
        exploded = bronze.select(
            *keep,
            F.from_json(time_json, T.ArrayType(T.DoubleType()))
            .cast("array<long>")
            .alias("_t"),
            # first NON-EMPTY probe: plain coalesce skips only NULLs,
            # so a present-but-empty front field ({"price": [],
            # "prices": [1,2,3]}) would mask a populated fallback and
            # yield zero silver rows for the day (deliberate hardening
            # over the reference; quarantine_predicate applies the same
            # rule, so a row quarantines exactly when extraction
            # yields nothing)
            F.coalesce(
                *[F.when(F.size(pr) > 0, pr) for pr in probes]
            ).alias("_vals"),
        )
        entity_cols = []

    zipped = exploded.withColumn("_p", F.explode(F.arrays_zip("_t", "_vals")))
    out = zipped.select(
        *keep,
        *entity_cols,
        F.timestamp_seconds(F.col("_p._t")).alias("timestamp"),
        F.col("_p._vals").cast("double").alias(dataset.value_column),
    )
    return out.where(
        F.col("timestamp").isNotNull() & F.col(dataset.value_column).isNotNull()
    )


def quarantine_predicate(dataset: DatasetSpec) -> F.Column:
    """True for bronze rows whose payload cannot yield silver rows.

    The reference fails the whole job on a malformed day
    (bronze_to_silver.py lets from_json degrade silently or the
    pipeline crash upstream); an engine must instead QUARANTINE the
    bad rows and keep the batch flowing. A row is quarantined when its
    payload is unparseable JSON (from_json → NULL struct), its time
    array is missing, or it carries no value source (empty entity
    array / every value probe null). The predicate is pure Catalyst
    expressions over payload_json — evaluated in the same scan that
    feeds extraction, no extra pass."""
    spec = dataset.extract
    # from_json PERMISSIVE yields an all-null struct (not a NULL
    # struct) for malformed input, so JSON validity is probed with
    # get_json_object(payload, '$') — NULL exactly when the document
    # does not parse. All field checks run on the PARSED (typed)
    # forms, so a field that is present but wrongly typed (scalar
    # time, string prices, entities with null data arrays) — which
    # from_json nulls out and extraction then silently drops —
    # quarantines instead of vanishing.
    invalid = F.get_json_object("payload_json", "$").isNull()
    if spec.entity_array:
        payload = F.from_json("payload_json", _payload_schema(spec))
        arr = payload[spec.entity_array]
        usable = F.filter(
            arr, lambda e: e[spec.entity_values_field].isNotNull()
        )
        return (
            invalid
            | payload[spec.time_field].isNull()
            # present-but-EMPTY time array: arrays_zip pads every value
            # row with a NULL timestamp, so extraction yields zero
            # silver rows — an inconsistency to surface, not policy
            | (F.size(payload[spec.time_field]) == 0)
            | arr.isNull()
            | (F.size(usable) == 0)
        )
    time_parsed = F.from_json(
        F.get_json_object("payload_json", f"$.{spec.time_field}"),
        T.ArrayType(T.DoubleType()),
    )
    probes = [
        F.from_json(
            F.get_json_object("payload_json", f"$.{p}"),
            T.ArrayType(T.DoubleType()),
        )
        for p in spec.value_probes
    ]
    # usable probe = first non-empty (matching extraction); empty time
    # array quarantines for the same reason as the entity path
    return (
        invalid
        | time_parsed.isNull()
        | (F.size(time_parsed) == 0)
        | F.coalesce(
            *[F.when(F.size(pr) > 0, pr) for pr in probes]
        ).isNull()
    )


def extract_timeseries_with_quarantine(
    bronze: DataFrame, dataset: DatasetSpec
) -> tuple[DataFrame, DataFrame]:
    """(silver rows from clean payloads, quarantined bronze rows).

    The quarantine frame keeps the FULL bronze row (so a fixed parser
    can replay it) plus a ``quarantine_reason`` audit column. Clean
    rows flow through the standard ``extract_timeseries`` plan — the
    split is one predicate, both branches share the scan."""
    spec = dataset.extract
    bad = quarantine_predicate(dataset)
    invalid = F.get_json_object("payload_json", "$").isNull()
    # reason mapping mirrors every quarantine clause: an empty time
    # array is a time defect, not "missing_values", or an operator
    # replaying quarantine would see values blamed on a row whose
    # values are fine (tests pin the reasons, not just the counts)
    if spec.entity_array:
        payload = F.from_json("payload_json", _payload_schema(spec))
        reason = (
            F.when(invalid, "unparseable_json")
            .when(payload[spec.time_field].isNull(), "missing_time_array")
            .when(F.size(payload[spec.time_field]) == 0, "empty_time_array")
            .otherwise("missing_values")
        )
    else:
        time_parsed = F.from_json(
            F.get_json_object("payload_json", f"$.{spec.time_field}"),
            T.ArrayType(T.DoubleType()),
        )
        reason = (
            F.when(invalid, "unparseable_json")
            .when(time_parsed.isNull(), "missing_time_array")
            .when(F.size(time_parsed) == 0, "empty_time_array")
            .otherwise("missing_values")
        )
    good = extract_timeseries(bronze.where(~bad), dataset)
    quarantined = bronze.where(bad).withColumn("quarantine_reason", reason)
    return good, quarantined
