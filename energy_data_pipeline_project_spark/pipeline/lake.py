"""Lake layout + table IO for the medallion layers.

Path-addressed tables like the reference
(/root/reference/src/utils/paths.py): ``{root}/{layer}/{table}``.
Writes are full overwrites — every run is an idempotent refresh
(reference S6 semantics). Format is config-driven: parquet by default,
Delta when delta-spark is on the classpath (import-gated; the
container for this project ships parquet only).

Table state lives here and nowhere else. A table is missing when
neither its path nor its parked copy holds an entry Spark's file
listing reads (``_holds_table``): a failed first write or an empty
partition overwrite leaves such a directory. ``replace_table``
publishes a rewrite by stage-and-swap (a writer dying mid-swap parks
the table); ``read_for_rewrite`` heals a parked table and returns
``None`` for a missing one, so read-modify-writes pick their
first-write branch from it; ``read_table_or_empty`` gives readouts an
empty frame for a missing table; ``overwrite_partitions`` replaces
only the partitions a frame has rows in. A growing streaming index
writes each batch into its own partition (``write_batch_partition``)
and reads the strictly-earlier ones (``read_earlier_batches``).

Scale posture: ``partition_by`` is the opt-in day-partitioning knob
(bronze uses it via incremental ingest's ``date=`` layout; a 100 TB
deployment would pass ``("date",)`` for silver/gold too so day-keyed
queries get static + dynamic partition pruning). The reference leaves
its tables unpartitioned (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from ..sources.tables import current_schema, read_parquet, record_schema

LAYERS = ("bronze", "silver", "gold")


def table_path(root: str, layer: str, name: str) -> str:
    assert layer in LAYERS, layer
    return os.path.join(root, layer, name)


def resolve_table_format(spark: SparkSession, requested: str) -> str:
    """Resolve a config ``table_format`` to a concrete writer format.

    Every lake IO function below resolves its ``fmt`` through this,
    so a config carrying the literal ``"auto"`` works end to end
    (runner, CLI compaction, incremental ingest, direct callers).

    ``"auto"`` picks real Delta whenever the jars are on the classpath
    (reference storage parity —
    /root/reference/src/utils/spark_session.py:77-90) and falls back
    to parquet + the engine's pointer-file versioning otherwise; any
    explicit format passes through untouched."""
    if requested == "auto":
        return "delta" if delta_available(spark) else "parquet"
    return requested


def delta_available(spark: SparkSession) -> bool:
    # NB: plain attribute access on spark._jvm returns a lazy
    # JavaPackage even for classes that don't exist — only Class.forName
    # actually proves the Delta jars are on the classpath.
    try:
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")
        return True
    except Exception:
        return False


def _save(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: tuple[str, ...],
    stage: str | None = None,
) -> None:
    """Overwrite ``path`` with ``df`` — in place, or by writing
    ``stage`` and swapping it in. An unpartitioned parquet write enters
    ``df.schema`` in the table catalog under ``path``, so reading the
    table back infers nothing. Delta rejects a read schema, and a
    partitioned table's partition columns are typed by read-side
    inference, not by the written frame: those reads infer once and
    enter the result."""
    writer = df.write.format(fmt).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(stage or path)
    if stage:
        _atomic_swap(path, stage)
    if fmt == "parquet" and not partition_by:
        record_schema(path, df.schema)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
) -> None:
    _save(df, path, resolve_table_format(df.sparkSession, fmt), partition_by)


def replace_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Overwrite ``path`` with ``df`` through a staged copy: write the
    sibling ``._staged`` directory, then publish it with
    ``_atomic_swap``. Unlike ``write_table``, ``df`` may read ``path``
    itself. A stale stage left by a crashed attempt is overwritten."""
    fmt = resolve_table_format(df.sparkSession, fmt)
    _save(df, path, fmt, partition_by, path.rstrip("/") + "._staged")


def write_table_observed(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    null_check_cols: tuple[str, ...] = (),
) -> dict:
    """Overwrite ``path`` and return write-pass metrics for free.

    The reference verifies its pipeline by RE-READING all seven tables
    and counting them (``/root/reference/src/main.py:88-101``) — a
    second full scan per table. A Spark ``Observation`` attaches
    accumulator-backed aggregates to the write job itself, so row
    counts and per-column null counts arrive with the write: at 100 TB
    the verification costs zero extra IO. Returns
    ``{"n_rows": …, "nulls_<col>": …}``.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    fmt = resolve_table_format(df.sparkSession, fmt)
    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols:
        exprs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nulls_{c}")
        )
    _save(df.observe(obs, *exprs), path, fmt, partition_by)
    return dict(obs.get)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...],
    fmt: str = "parquet",
) -> None:
    """Replace only the ``partition_by`` partitions of ``path`` that
    ``df`` has rows in (dynamic partition overwrite); every other
    partition is left as it is. The mode is a per-writer option: a
    session-conf set/restore races concurrent writers and can flip one
    into static overwrite, which wipes every other partition.

    A parquet table's catalog entry is carried across the write when it
    matched the table just before it and its data columns (all but
    ``partition_by``) equal ``df``'s by name and type: the partition
    columns keep the type read-side inference gave them, so the next
    read infers nothing. Otherwise nothing is entered and the next read
    infers once (a stale entry, say of the table's unpartitioned
    layout, would type a ``date=`` column as its written string)."""
    fmt = resolve_table_format(df.sparkSession, fmt)
    carried = current_schema(path) if fmt == "parquet" else None
    (
        df.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .save(path)
    )

    def data_columns(schema: StructType) -> list:
        # types without nullability: a parquet read reports all nullable
        return [
            (f.name, f.dataType.simpleString())
            for f in schema
            if f.name not in partition_by
        ]

    if carried is not None and data_columns(carried) == data_columns(df.schema):
        record_schema(path, carried)


def _parked(path: str) -> str:
    """Where ``_atomic_swap`` parks the old table between its renames."""
    return path.rstrip("/") + "._pre_swap"


def _holds_table(path: str) -> bool:
    """The lake's existence rule: ``path`` holds a table when it holds
    an entry Spark's file listing reads. Spark hides names starting
    with ``_`` or ``.``; a Delta ``_delta_log`` still counts. A missing
    path, and a directory holding only ``_SUCCESS`` or nothing (a
    failed first write, an empty partition overwrite), hold none."""
    try:
        names = os.listdir(path)
    except NotADirectoryError:
        return True
    except FileNotFoundError:
        return False
    return any(n == "_delta_log" or not n.startswith(("_", ".")) for n in names)


def _table_source(path: str) -> str | None:
    """The directory a read of ``path`` scans: ``path``, else its parked
    copy (a writer that died between ``_atomic_swap``'s renames, or a
    live writer inside that window), else ``None`` for a missing table.
    Serving the parked copy is non-destructive: an eager rename here
    would race a live writer's second rename and strand its new
    version; healing stays with writers (``read_for_rewrite``)."""
    for src in (path, _parked(path)):
        if _holds_table(src):
            return src
    return None


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Scan the lake table at ``path`` (or its parked copy). A parquet
    table is read through the table catalog
    (``sources.tables.read_parquet``): a table this process wrote, or
    read before, and has not been rewritten since is scanned with its
    known schema and launches no inference job."""
    src = _table_source(path) or path
    fmt = resolve_table_format(spark, fmt)
    if fmt == "parquet":
        return read_parquet(spark, src)
    return spark.read.format(fmt).load(src)


def read_table_or_empty(
    spark: SparkSession, path: str, schema: str, fmt: str = "parquet"
) -> DataFrame:
    """Read side of a table that may not exist yet: the table when it
    is live or parked (the last committed state), else an empty frame
    of ``schema``. A readout over it then answers as its batch query
    does over no events."""
    if _table_source(path) is None:
        return spark.createDataFrame([], schema)
    return read_table(spark, path, fmt)


def read_for_rewrite(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame | None:
    """Write side of a read-modify-write: heal a crash inside
    ``_atomic_swap``'s rename window, then read the table, or return
    ``None`` when there is none. A parked table with no live table at
    ``path`` is restored (taken for a missing one, it would be
    overwritten by a first write); a stale parked copy next to a live
    table is removed."""
    import shutil

    src = _table_source(path)
    if src is None:
        return None
    pre = _parked(path)
    if src == pre:
        shutil.rmtree(path, ignore_errors=True)
        os.rename(pre, path)
    elif os.path.isdir(pre):
        shutil.rmtree(pre)
    return read_table(spark, path, fmt)


def compact_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a table into ~``ceil(rows / target_rows_per_file)``
    files. Returns the file count written.

    The small-file problem is the dominant operational cost of a
    many-small-batch lake (bronze ingests one file per day-payload by
    design — see pipeline/ingestion.py): a 100 TB table accreted in
    small increments can hold millions of KB-sized files, and every
    scan then pays file-open + footer-read + task-schedule per file.
    Periodic compaction rewrites cold partitions into scan-sized files.

    Mechanics: count once (metadata-only for parquet), then rewrite
    through round-robin ``repartition(n)`` — an all-to-all exchange
    that produces evenly-sized output files (``coalesce`` would skip
    the shuffle but glues existing partitions, preserving skew). The
    rewrite is published by ``replace_table``, so a reader never
    observes a half-written table.
    """
    import math

    df = read_for_rewrite(spark, path, fmt)
    if df is None:
        raise FileNotFoundError(f"no table to compact at {path}")
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    # A hive-partitioned table (e.g. bronze's date= layout from
    # incremental ingest) must keep its layout through compaction, or
    # partition pruning dies and the next incremental run sees a
    # "legacy flat" table and pays a full rewrite.
    pcols = _partition_columns(path)
    if pcols:
        import pyspark.sql.functions as F

        # Hash-partition on the layout columns: each hive partition is
        # then written by exactly one task (one file per partition
        # dir). Round-robin repartition(n) here would spread EVERY
        # partition's rows across all n tasks, so output could grow to
        # n_files × n_partitions files — compaction that adds files.
        # A partition hotter than target_rows_per_file still compacts
        # to a single file: the target is a goal, not a bound.
        shaped = df.repartition(n_files, *[F.col(c) for c in pcols])
    else:
        shaped = df.repartition(n_files)
    replace_table(shaped, path, fmt, tuple(pcols))
    if pcols:
        # the partitioned path writes one file per hive partition, not
        # n_files — report the real count, not the flat-path estimate
        import glob as _glob

        return len(
            [
                f
                for f in _glob.glob(
                    os.path.join(path, *(["*"] * len(pcols)), "part-*")
                )
                if not f.endswith(".crc")
            ]
        )
    return n_files


def _partition_columns(path: str) -> list[str]:
    """Hive-style partition columns of ``path``, outermost first, by
    directory-name inspection (``col=value`` entries)."""
    cols: list[str] = []
    cur = path
    while os.path.isdir(cur):
        parts = [
            e
            for e in os.listdir(cur)
            if "=" in e and os.path.isdir(os.path.join(cur, e))
        ]
        if not parts:
            break
        col = parts[0].split("=", 1)[0]
        cols.append(col)
        cur = os.path.join(cur, parts[0])
    return cols


def write_batch_partition(df: "DataFrame", path: str, batch_id: int) -> None:
    """Replay-idempotent per-batch sink write: rows land in (and only
    in) the batch's own ``batch_id=<n>`` partition; a re-delivered
    batch REPLACES that partition (``overwrite_partitions``). An empty
    frame writes no part file and replaces no partition; on a new sink
    it leaves a directory the lake reads as no table. The first
    non-empty write to a new sink enters its schema in the table
    catalog, so no read of the sink infers; later writes carry the
    entry (``overwrite_partitions``)."""
    import pyspark.sql.functions as F

    new_sink = _table_source(path) is None
    df = df.withColumn("batch_id", F.lit(int(batch_id)))
    overwrite_partitions(df, path, ("batch_id",))
    if new_sink and _holds_table(path):
        # as a fresh read infers it: every column nullable, batch_id
        # an int (a bigint past 2^31 - 1), as F.lit typed it
        fields = [
            StructField(f.name, f.dataType, True, f.metadata) for f in df.schema
        ]
        record_schema(path, StructType(fields))


def read_earlier_batches(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """The replay rule of a growing ``write_batch_partition`` index:
    its partitions strictly below ``batch_id``, without the column, or
    ``None`` when no table exists yet. A replayed batch never meets its
    first attempt nor a later batch. The partition filter keeps the
    batch's own partition out even when it is written before the frame
    runs; the earlier ones are read lazily, so consume the frame before
    the index is written again."""
    import pyspark.sql.functions as F

    df = read_for_rewrite(spark, path)
    if df is None:
        return None
    return df.where(F.col("batch_id") < int(batch_id)).drop("batch_id")


def _atomic_swap(path: str, staged: str) -> None:
    """Publish step of ``replace_table``, the one caller: replace
    ``path`` with ``staged`` via two renames (one when ``path`` does
    not exist yet). Readers never see a PARTIAL write, but there is an
    instant between the renames where ``path`` does not exist: a
    concurrent reader in that window is served the parked copy by
    ``read_table``, and a writer crash in the window parks the table
    at ``._pre_swap`` — ``read_for_rewrite`` heals that on the next
    write. True both-versions-visible swaps need the pointer design of
    ``write_table_versioned`` (or a transaction log); an
    object-store deployment would use that path instead."""
    import shutil

    if not os.path.exists(path):
        os.rename(staged, path)
        return
    old = _parked(path)
    os.rename(path, old)
    try:
        os.rename(staged, path)
    except Exception:
        os.rename(old, path)  # roll back
        raise
    shutil.rmtree(old)


def upsert_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    order_col: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Merge-by-key into a path-addressed table: latest row per key
    wins (by ``order_col``; an update beats an existing row on ties).
    This is MERGE INTO for a plain-parquet lake — Delta does it
    transactionally (the reference's format); without a log the same
    semantics come from deduplicated rewrite + atomic directory swap.

    Scale shape: with ``partition_by`` set, only the partitions the
    updates actually touch are read, merged, and overwritten
    (``overwrite_partitions``). The fast path is only sound while
    every updated key's rows live in ONE partition: an update whose
    key also has rows in a different partition leaves the superseded
    row alive there (dynamic overwrite never rewrites a partition the
    output doesn't land in), duplicating the key. Soundness is
    established one of two ways:

    - ZERO-COST when the partition column is itself one of the key
      columns: each key then has exactly one partition value by
      definition and can never span, so the fast path engages with no
      check at all (the common date-keyed merge shape).
    - Otherwise a moved-key probe runs: existing rows of updated keys
      (a column-pruned key+partition read of the table, semi-joined
      against the update keys — the same matching-files pass Delta's
      MERGE pays on a table without a key-partition constraint) are
      checked for spanning. The REWRITE stays proportional to touched
      partitions, but this probe reads the table's key/partition
      columns in full each call; callers merging high-frequency
      micro-batches into a huge table should either include the
      partition column in the key or maintain an external
      key→partition index — this function deliberately does not cache
      one, because a stale cache recreates the exact silent-loss bug
      the probe exists to prevent.

    On any detected spanning, the merge falls back to the full rewrite
    published by ``replace_table`` (layout preserved). Unpartitioned
    tables always take the full rewrite, and so does a missing table,
    which merges as an empty one: the first call publishes the latest
    update per key. The keep-latest dedup is one window over the key —
    the same row_number idiom as dedup_latest_order.
    """
    fmt = resolve_table_format(spark, fmt)
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    existing = read_for_rewrite(spark, path, fmt)
    partition_scoped = False
    if existing is None:
        # an empty table of the updates' schema (the empty relation is
        # pruned from the plan); published by the full rewrite below
        existing = updates.limit(0)
    elif partition_by:
        pcols = list(partition_by)
        if all(p in key_cols for p in pcols):
            # EVERY partition column ∈ key → one partition tuple per
            # key by definition, spanning is impossible: fast path
            # with no probe job at all. ALL columns, not the first:
            # with ("date","region") partitioning and only date in
            # the key, a key can still span region values, and a
            # first-column shortcut strands the loser's row
            partition_scoped = True
        else:
            # The fast path is sound iff every updated key's rows —
            # existing AND update — live in ONE partition tuple: then
            # the winning row lands in that partition, the dynamic
            # overwrite rewrites it, and every loser is retired with
            # it. A weaker input-partition-set comparison misses an
            # update batch that itself carries the same key in two
            # partitions (the losing row's partition gets no output
            # and its stale row survives).
            # Spanning is measured over the FULL partition tuple
            # (countDistinct of the struct — a struct is never NULL
            # itself, so NULL-bearing tuples are counted distinctly),
            # and the updated-key semi-join is NULL-SAFE: a plain
            # leftsemi never matches NULL keys, so a NULL-keyed moved
            # row would slip past the probe while the merge window
            # (which groups NULLs) retires it on the slow path. The
            # existing-side read selects only key+partition columns,
            # so the parquet scan is column-pruned.
            cand_cols = list(dict.fromkeys([*key_cols, *pcols]))
            upd_keys = updates.select(*key_cols).distinct()
            key_cond = None
            for k in key_cols:
                c = existing[k].eqNullSafe(upd_keys[k])
                key_cond = c if key_cond is None else (key_cond & c)
            cand = (
                existing.join(upd_keys, key_cond, "leftsemi")
                .select(*cand_cols)
                .unionByName(updates.select(*cand_cols))
            )
            spanning = (
                cand.groupBy(*key_cols)
                .agg(
                    F.countDistinct(F.struct(*pcols)).alias("n_parts")
                )
                .where(F.col("n_parts") > 1)
            )
            partition_scoped = spanning.isEmpty()
    tagged_old = existing.withColumn("_upd", F.lit(0))
    tagged_new = updates.select(*existing.columns).withColumn(
        "_upd", F.lit(1)
    )
    if partition_scoped:
        # null-safe touched-partition semi join over the FULL tuple
        # (isin() evaluates to NULL for NULL partition rows, silently
        # EXCLUDING existing null-partition rows from the merge while
        # the dynamic overwrite still rewrites that partition; and the
        # old single-column filter read every second-level partition
        # of a touched first level)
        touched = updates.select(*pcols).distinct()
        part_cond = None
        for pc in pcols:
            c = tagged_old[pc].eqNullSafe(touched[pc])
            part_cond = c if part_cond is None else (part_cond & c)
        tagged_old = tagged_old.join(touched, part_cond, "leftsemi")

    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(order_col), F.desc("_upd")
    )
    merged = (
        tagged_old.unionByName(tagged_new)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_upd")
    )

    if partition_scoped:
        overwrite_partitions(merged, path, partition_by, fmt)
    else:
        replace_table(merged, path, fmt, partition_by)


# ---------------------------------------------------------------------------
# Versioned tables: pointer-file time travel for a plain-parquet lake
# ---------------------------------------------------------------------------
# The reference leans on Delta for versioned overwrites; without the
# jar, the same user-visible capability — every write is a retained
# snapshot, readers can time-travel, writers never disturb readers —
# comes from the Iceberg-style pointer design: each write lands in an
# immutable _versions/v{N} directory and a tiny _LATEST pointer file is
# swapped atomically (os.replace) to publish it. Readers resolve the
# pointer (or an explicit version) to a directory and scan it; a
# half-written version is unreachable until its pointer lands, and a
# crashed writer leaves only an unreferenced orphan directory that the
# next retention sweep removes. On an object store the pointer is a
# single small object PUT — the publish is one metadata operation
# regardless of table size.

_VERSIONS_DIR = "_versions"
_LATEST_FILE = "_LATEST"
_PUBLISHED_LOG = "_PUBLISHED"


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, _VERSIONS_DIR, f"v{version:08d}")


def list_table_versions(path: str) -> list[int]:
    """Existing version numbers (ascending), including unpublished
    orphans from crashed writes."""
    vroot = os.path.join(path, _VERSIONS_DIR)
    if not os.path.isdir(vroot):
        return []
    out = []
    for name in os.listdir(vroot):
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def latest_table_version(path: str) -> int | None:
    """The PUBLISHED version (pointer contents), or None."""
    try:
        with open(os.path.join(path, _LATEST_FILE)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def published_table_versions(path: str) -> set[int]:
    """Every version number that was ever PUBLISHED (pointer landed).

    The pointer alone cannot distinguish a crashed writer's orphan
    from once-published history after the pointer moves PAST the
    orphan's number: retention would count the partial dir as history
    and delete a valid snapshot instead. Each publish appends to a
    `_PUBLISHED` log (atomic rewrite+replace, same single-writer
    assumption as the pointer swap) before it moves the pointer, so
    the log is the only record read. A table with neither file is new
    (no versions). A `_LATEST` pointer with no log, or a log that
    fails to parse, raises: pointer-counting would reintroduce the
    orphan-vs-history confusion the log exists to fix — vacuum could
    delete real history — with no signal anything is wrong."""
    log_path = os.path.join(path, _PUBLISHED_LOG)
    try:
        with open(log_path) as f:
            raw = f.read()
    except FileNotFoundError:
        if not os.path.exists(os.path.join(path, _LATEST_FILE)):
            return set()
        raise FileNotFoundError(
            f"versioned table at {path} has a {_LATEST_FILE} pointer but "
            f"no {_PUBLISHED_LOG} log at {log_path}. Write the log by "
            "hand, one published version number per line (every "
            "version the pointer has ever named), then retry."
        ) from None
    try:
        return {int(line) for line in raw.split() if line}
    except ValueError as exc:
        raise ValueError(
            f"corrupt publish log at {log_path}: {exc}. Refusing to "
            "fall back to pointer-counting (it cannot tell a crashed "
            "writer's orphan from published history); repair or remove "
            "the log explicitly."
        ) from exc


def write_table_versioned(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    keep_versions: int | None = None,
) -> int:
    """Write ``df`` as a new immutable version and publish it; returns
    the version number.

    ``keep_versions`` prunes to the newest N *published-or-older*
    snapshots after the pointer swap (the just-published version is
    always kept). Concurrent readers of pruned versions are the one
    hazard, as with Delta VACUUM — retention is the knob.
    """
    prev = latest_table_version(path)
    existing = list_table_versions(path)
    version = (max(existing) if existing else (prev or 0)) + 1
    target = _version_dir(path, version)
    writer = df.write.format(
        resolve_table_format(df.sparkSession, fmt)
    ).mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(target)
    # publish: write-then-rename is atomic on POSIX (os.replace), a
    # single small-object PUT on an object store
    # the publish-log append comes FIRST: a crash between the two
    # writes leaves a logged-but-unpointed version — harmless history
    # — while the reverse order would leave a pointed-but-unlogged
    # version that retention could then vacuum
    log = published_table_versions(path) | {version}
    log_tmp = os.path.join(path, _PUBLISHED_LOG + ".tmp")
    with open(log_tmp, "w") as f:
        f.write("\n".join(str(v) for v in sorted(log)))
    os.replace(log_tmp, os.path.join(path, _PUBLISHED_LOG))
    ptr_tmp = os.path.join(path, _LATEST_FILE + ".tmp")
    with open(ptr_tmp, "w") as f:
        f.write(str(version))
    os.replace(ptr_tmp, os.path.join(path, _LATEST_FILE))
    if keep_versions is not None:
        # delegate to the orphan-aware vacuum: it counts retention
        # over published versions only, so a crashed writer's orphan
        # dir is never kept as "history" in place of a valid snapshot,
        # and it clears orphans as a bonus
        vacuum_table_versions(path, keep_versions)
    return version


def read_table_versioned(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    version: int | None = None,
) -> DataFrame:
    """Scan the published snapshot, or time-travel to ``version``."""
    if version is None:
        version = latest_table_version(path)
        if version is None:
            raise FileNotFoundError(f"no published version at {path}")
    elif version not in published_table_versions(path):
        # a dir the publish log never recorded is a crashed writer's
        # partial orphan, not a snapshot — scanning it would return
        # silently truncated data, breaking the module contract that
        # half-written versions are unreachable
        raise FileNotFoundError(
            f"version {version} was never published at {path}"
            f" (published: {sorted(published_table_versions(path))})"
        )
    target = _version_dir(path, version)
    if not os.path.isdir(target):
        raise FileNotFoundError(f"version {version} not found at {path}")
    return spark.read.format(resolve_table_format(spark, fmt)).load(target)


def vacuum_table_versions(path: str, keep_versions: int = 2) -> list[int]:
    """Remove unpublished orphan version dirs (crashed writers) and
    published snapshots beyond the newest ``keep_versions``. Returns
    the removed version numbers. Delta VACUUM semantics: never removes
    the published version; readers pinned to a pruned snapshot are the
    documented retention hazard."""
    import shutil

    published = latest_table_version(path)
    versions = list_table_versions(path)
    # only versions the publish log records count as history: an
    # orphan below a later pointer is still a crashed write, not a
    # snapshot (a <=-pointer rule would keep such a partial dir while
    # deleting real history)
    logged = published_table_versions(path)
    history = [v for v in versions if v in logged]
    keep = set(history[-keep_versions:]) if keep_versions > 0 else set()
    if published is not None:
        keep.add(published)
    removed = []
    for v in versions:
        if v not in keep:
            shutil.rmtree(_version_dir(path, v), ignore_errors=True)
            removed.append(v)
    return removed
