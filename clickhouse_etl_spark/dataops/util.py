"""Shared dataops utilities: partition sizing, the one row-local Arrow
pass, and the artifact cache and geometry sidecar every seen-set and
index artifact shares."""

from __future__ import annotations

from pyspark.sql import DataFrame


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow-but-compute-heavy input to use the cluster.

    Single-file parquet inputs arrive as one partition (one row group),
    which would serialize expensive per-row expression work (shingle
    hashing, fold hashes, vector math) onto one core. One cheap
    round-robin shuffle of the raw rows buys full parallelism. At real
    scale inputs arrive well-partitioned and this is a no-op.
    """
    if df.isStreaming:
        # micro-batch partitioning is the source's concern (e.g. kafka
        # minPartitions); .rdd is illegal on an unstarted streaming plan
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # cheap physical-partition probe: the input RDD of the (lazy) plan —
    # no job runs; at real scale inputs arrive well-partitioned and the
    # branch is never taken
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


#: numpy dtype of each numeric Spark type a pass emits, and the pandas
#: masked dtype an integral/boolean column that can hold NULL keeps
_NUMPY_DTYPES = {
    "bigint": "int64", "int": "int32", "smallint": "int16",
    "tinyint": "int8", "boolean": "bool", "double": "float64",
    "float": "float32",
}
_MASKED_DTYPES = {
    "bigint": "Int64", "int": "Int32", "smallint": "Int16",
    "tinyint": "Int8", "boolean": "boolean",
}


def _pass_column(values, field):
    """``values`` (list, array or Series) as a positional pandas/numpy
    array typed from the Spark ``field``: a nullable integral/boolean
    field keeps a masked dtype (a NULL flows through as NULL instead of
    raising or turning into a float), floats stay numpy (NaN reads as
    NULL at the Arrow boundary), everything else is a 1-D object array."""
    import numpy as np
    import pandas as pd

    name = field.dataType.simpleString()
    if field.nullable and name in _MASKED_DTYPES:
        return pd.array(values, dtype=_MASKED_DTYPES[name])
    if name in _NUMPY_DTYPES:
        return np.asarray(values, dtype=_NUMPY_DTYPES[name])
    return pd.array(values, dtype=object)


def _arrow_pass(df: DataFrame, fields: list, op: str, keep=None, rewrite=()):
    """The ONE row-local Python pass over Arrow batches — every
    ``mapInPandas`` a dataop (or the curation stream) runs goes through
    it, on a batch frame and on a micro-batch alike.

    Validates and builds the output schema at plan build: the ``keep``
    input columns (default all, in input order), then the new
    ``fields``. A new field named like a kept input column raises the
    one clash error, unless ``rewrite`` names it — then it replaces the
    input column in place (its position, the new field's type), as
    ``withColumn`` would. Returns ``run(make_batch)``, which builds the
    frame: ``make_batch()`` is called once per task (kernels, memos and
    broadcast reads live there) and returns ``batch(pdf)``, called per
    non-empty Arrow batch. ``batch`` returns None (emit nothing) or
    ``(rows, values)``: ``rows`` are the positions of the input rows it
    emits (repeats allowed — explode-shaped passes fit; None = every
    row in order; ignored when no input column is kept), ``values`` the
    new columns' values in ``fields`` order, each typed from its Spark
    field (:func:`_pass_column`). Batches with no output row are
    skipped."""
    from pyspark.sql.types import StructType

    kept = list(df.columns if keep is None else keep)
    new = {f.name: f for f in fields}
    clash = sorted(c for c in kept if c in new and c not in rewrite)
    if clash:
        raise ValueError(
            f"input already carries {clash} — rename those columns "
            f"before {op}"
        )
    schema = StructType(
        [new.pop(c, df.schema[c]) for c in kept] + list(new.values())
    )
    names = schema.fieldNames()
    taken = [c for c in kept if c not in {f.name for f in fields}]

    def run(make_batch) -> DataFrame:
        def batches_of(batches):
            import pandas as pd

            batch = make_batch()
            for pdf in batches:
                if not len(pdf):
                    continue
                res = batch(pdf)
                if res is None:
                    continue
                rows, values = res
                cols = {
                    c: pdf[c].array if rows is None else pdf[c].array.take(rows)
                    for c in taken
                }
                for f, v in zip(fields, values):
                    cols[f.name] = _pass_column(v, f)
                out = pd.DataFrame({c: cols[c] for c in names})
                if len(out):
                    yield out

        return df.mapInPandas(batches_of, schema)

    return run


#: measured healthy load per shuffle partition for sort/state-heavy
#: operators (dedup_windowed's per-partition sort was the recurring
#: false regression): 100M rows at 256 partitions (~390k rows each)
#: and 1B at 1024 (~980k) both restore the 10M-row per-row cost, while
#: 100M into the 32-partition default (3.1M rows each) reads 2-3x slow
#: purely from sort depth/spill (r8/r9 scale sections).
SHUFFLE_TARGET_ROWS = 500_000


def shuffle_partitions_for(
    n_rows: int,
    target_rows_per_partition: int = SHUFFLE_TARGET_ROWS,
    min_partitions: int = 32,
    max_partitions: int = 8192,
) -> int:
    """Shuffle-partition count sized to the data (VERDICT r9 #7):
    ``ceil(n_rows / target)`` rounded up to a power of two, clamped to
    [min, max]. Sizing ``spark.sql.shuffle.partitions`` this way is
    what keeps per-partition sort depth constant as data scales — the
    decade-scale dedup_windowed reading needed the same manual
    re-attribution three rounds running; this encodes the fix. On a
    real cluster pair it with AQE coalescing (small stages shrink back
    automatically); the power-of-two rounding keeps hash partitioning
    even."""
    import math

    need = max(
        min_partitions,
        math.ceil(max(int(n_rows), 1) / max(int(target_rows_per_partition), 1)),
    )
    return min(max_partitions, 1 << (need - 1).bit_length())


def path_exists(spark, path: str) -> bool:
    """Filesystem-agnostic existence check through the session's Hadoop
    FileSystem (works for local paths in tests and object-store URIs at
    scale) — the pre-write guard the artifact writers use to validate
    an existing geometry sidecar BEFORE touching the key data."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` through its Hadoop FileSystem,
    resolved as :func:`path_exists` resolves it — a plain local path,
    a ``file://`` URI and an object-store URI alike. A missing path is
    a no-op; a delete the FileSystem refuses raises ``OSError``."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p) and not fs.delete(p, True):
        raise OSError(f"could not delete {path!r}")


#: every loaded seen-set and index artifact, keyed (kind, path, *the
#: arguments the value depends on) and valued (parquet file listing,
#: value) — see :func:`cached_artifact` / :func:`release_artifact_cache`
_ARTIFACT_CACHE: dict = {}


def _unpersist(value) -> None:
    """Free the Spark resource a cached value holds: a cached DataFrame
    or a Broadcast, alone or first in a tuple (plain Python data
    has nothing to free)."""
    head = value[0] if isinstance(value, tuple) else value
    if hasattr(head, "unpersist"):
        head.unpersist()


def cached_artifact(key: tuple, sources: list, load):
    """The value ``load()`` builds from the parquet frames ``sources``,
    cached under ``key`` = (kind, path, ...) until the sources' file
    listing changes. A wave that appends to or rewrites an artifact at
    the same path changes its part files, so the stale value is freed
    and rebuilt instead of silently probed (ADVICE r7). Repeat probes
    of one path in a session reuse the executor-resident value instead
    of stacking a second copy; a long session that cycles through many
    waves calls :func:`release_artifact_cache` when a wave completes."""
    key = (key[0], key[1].rstrip("/"), *key[2:])
    files = tuple(sorted(f for s in sources for f in s.inputFiles()))
    entry = _ARTIFACT_CACHE.get(key)
    if entry is not None and entry[0] == files:
        return entry[1]
    if entry is not None:
        _unpersist(_ARTIFACT_CACHE.pop(key)[1])
    value = load()
    _ARTIFACT_CACHE[key] = (files, value)
    return value


def release_artifact_cache(path: str | None = None) -> int:
    """Free every cached value loaded from the artifact at ``path`` —
    the artifact itself and its subpaths (``/bands``, ``/buckets``,
    ``/meta``) — or ALL cached artifacts when None. Returns the number
    of entries released; safe for a path that was never cached."""
    root = path.rstrip("/") if path is not None else None
    keys = [
        k
        for k in _ARTIFACT_CACHE
        if root is None or k[1] == root or k[1].startswith(root + "/")
    ]
    for k in keys:
        _unpersist(_ARTIFACT_CACHE.pop(k)[1])
    return len(keys)


def write_geometry(spark, path: str, geometry: dict, mode: str) -> None:
    """Write the one-row ``{path}/geometry`` sidecar of a keyed
    artifact (band or vector-bucket): ``geometry`` maps each int
    field name to its value."""
    (
        spark.createDataFrame(
            [tuple(int(v) for v in geometry.values())],
            ", ".join(f"{name} int" for name in geometry),
        )
        .coalesce(1)
        .write.mode(mode)
        .parquet(f"{path.rstrip('/')}/geometry")
    )


def read_geometry(spark, path: str, names: tuple, what: str) -> tuple:
    """Read and validate the ONE geometry of the ``what`` artifact at
    ``path`` — a probe derives its parameters FROM the artifact, so
    there is no probe-side parameter to mismatch (the bloom
    single-geometry lesson, solved by construction). Mixed geometries
    (appends under different parameters) fail loud."""
    rows = (
        spark.read.parquet(f"{path.rstrip('/')}/geometry")
        .distinct()
        .collect()
    )
    if len(rows) != 1:
        raise ValueError(
            f"{what} at {path!r} holds {len(rows)} distinct geometries "
            f"— every wave must register under the SAME "
            f"({', '.join(names)}); rebuild the artifact"
        )
    return tuple(int(rows[0][n]) for n in names)


def check_append_geometry(
    spark, path: str, mode: str, geometry: dict, what: str
) -> bool:
    """True when ``mode="append"`` adds to an existing artifact; raises
    BEFORE any key is written when its geometry differs from
    ``geometry`` (ADVICE r10 #1: a wrong-geometry append must not
    corrupt the artifact and surface only at probe time)."""
    if mode != "append" or not path_exists(
        spark, f"{path.rstrip('/')}/geometry"
    ):
        return False
    names = tuple(geometry)
    existing = read_geometry(spark, path, names, what)
    requested = tuple(int(v) for v in geometry.values())
    if existing != requested:
        raise ValueError(
            f"geometry mismatch appending to {path!r}: artifact "
            f"registered under ({', '.join(names)})={existing}, append "
            f"requested {requested} — nothing was written; rebuild or "
            "match the geometry"
        )
    return True


class sized_shuffle:
    """Context manager: set ``spark.sql.shuffle.partitions`` via
    :func:`shuffle_partitions_for` for the block, restore on exit —
    the scale sections' way of sizing a decade-up measurement without
    leaking the setting into the next section."""

    def __init__(self, spark, n_rows: int, **kw):
        self.spark = spark
        self.parts = shuffle_partitions_for(n_rows, **kw)

    def __enter__(self):
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self.parts

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False
