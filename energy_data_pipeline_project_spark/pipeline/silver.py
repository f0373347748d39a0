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
  field names, first non-empty via ``coalesce`` (schema drift
  tolerance).
- epoch→timestamp via ``timestamp_seconds``: instant-exact in any
  session TZ and loud on overflow, where the reference's round trip
  through a formatted string is neither. ``to_date`` day bucketing
  still follows the session TZ, which session.py pins to UTC.
- rows with null timestamp OR null value are dropped (this is the
  late/misaligned-data policy: zip-padded tails vanish here).

Quarantine rule: a bronze row is quarantined exactly when extraction
yields no row for it, i.e. when no index of its time array and of some
value array (an entity's, or the first non-empty probe) holds two
non-null elements. ``quarantine_reason`` states that rule once over
the same parsed arrays extraction reads, so the two cannot drift; its
other clauses only name the defect.

Cardinality: 1 bronze row/day → ×|entities| → ×|time slots|. At
100 TB this plan is two Generates inside one codegen stage — no
shuffle at all until the gold aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
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


def _probe(field: str) -> Column:
    """Probe shape: the typed ``array<double>`` under ``$.field``; NULL
    when the field is missing or not an array of numbers."""
    return F.from_json(
        F.get_json_object("payload_json", f"$.{field}"),
        T.ArrayType(T.DoubleType()),
    )


def _first_non_empty_probe(spec) -> Column:
    # plain coalesce skips only NULLs, so a present-but-empty front
    # field ({"price": [], "prices": [1,2,3]}) would mask a populated
    # fallback and yield zero silver rows for the day
    return F.coalesce(
        *[F.when(F.size(pr) > 0, pr) for pr in map(_probe, spec.value_probes)]
    )


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
        exploded = bronze.select(
            *keep,
            _probe(spec.time_field).cast("array<long>").alias("_t"),
            _first_non_empty_probe(spec).alias("_vals"),
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


def quarantine_reason(dataset: DatasetSpec) -> Column:
    """NULL for a bronze row that yields at least one silver row, else
    why it yields none: ``unparseable_json``, ``missing_time_array``,
    ``empty_time_array`` (empty or all-null) or ``missing_values``.

    The reference fails the whole job on a malformed day; an engine
    must instead quarantine the bad rows and keep the batch flowing.
    The column is pure Catalyst expressions over payload_json, so it
    is evaluated in the scan that feeds extraction, no extra pass.
    ``from_json`` nulls a present but wrongly typed field (scalar
    time, string prices, an entity's null data array), so such a row
    quarantines instead of vanishing."""
    spec = dataset.extract

    def aligned(times: Column, values: Column) -> Column:
        # some index holds a non-null time AND a non-null value: the
        # rows extraction's arrays_zip + null drop keeps
        return F.array_contains(
            F.zip_with(times, values, lambda t, v: t.isNotNull() & v.isNotNull()),
            True,
        )

    if spec.entity_array:
        payload = F.from_json("payload_json", _payload_schema(spec))
        times = payload[spec.time_field]
        yields = F.exists(
            payload[spec.entity_array],
            lambda e: aligned(times, e[spec.entity_values_field]),
        )
    else:
        times = _probe(spec.time_field)
        yields = aligned(times, _first_non_empty_probe(spec))
    # from_json PERMISSIVE yields an all-null struct (not a NULL
    # struct) for malformed input, so JSON validity is probed with
    # get_json_object(payload, '$'), NULL exactly when it does not parse
    defect = (
        F.when(F.get_json_object("payload_json", "$").isNull(), "unparseable_json")
        .when(times.isNull(), "missing_time_array")
        .when(~F.exists(times, lambda t: t.isNotNull()), "empty_time_array")
        .otherwise("missing_values")
    )
    # a NULL array anywhere makes `yields` NULL, which means no row
    return F.when(~F.coalesce(yields, F.lit(False)), defect)


def extract_timeseries_with_quarantine(
    bronze: DataFrame, dataset: DatasetSpec
) -> tuple[DataFrame, DataFrame]:
    """(silver rows, quarantined bronze rows).

    The quarantine frame keeps the FULL bronze row (so a fixed parser
    can replay it) plus a ``quarantine_reason`` audit column. Silver is
    the plain ``extract_timeseries`` plan: a quarantined row yields no
    silver row by construction, so no split predicate is needed."""
    silver = extract_timeseries(bronze, dataset)
    reason = quarantine_reason(dataset)
    quarantined = bronze.withColumn("quarantine_reason", reason).where(
        F.col("quarantine_reason").isNotNull()
    )
    return silver, quarantined
