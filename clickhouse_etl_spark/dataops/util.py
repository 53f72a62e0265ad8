"""Shared dataops utilities: partition sizing, and the artifact cache
and geometry sidecar every seen-set and index artifact shares."""

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
