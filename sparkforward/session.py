"""SparkSession helpers with scale-appropriate defaults.

The engine is designed for multi-executor clusters reading ~100 TB; locally we
run ``local[N]``. The config knobs below are the ones that matter at both
scales: AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for all pandas-UDF exchange, and a shuffle-partition count sized to the
local core count (on a real cluster this would be ~2-3x total cores or left
to AQE's coalescing).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "sparkforward",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    :param cores: local core count; defaults to ``$SPARK_GRAFT_CPUS`` or 32.
    :param shuffle_partitions: defaults to ``max(cores, 32)``.

    The driver heap is ``$SPARK_DRIVER_MEM`` when set, else
    :func:`default_driver_memory`. Python workers start through
    :mod:`sparkforward.worker_daemon`, found through the workers'
    ``PYTHONPATH`` whatever the driver's working directory; ``extra_conf``
    overrides either setting.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic session timezone so timestamp-derived results are stable
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .config("spark.executorEnv.PYTHONPATH", _package_root())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _prewarm_python_workers(spark, cores)
    return spark


#: the Python-worker daemon module engine sessions start workers through
WORKER_DAEMON = "sparkforward.worker_daemon"


def _package_root() -> str:
    """The sys.path entry that holds this package (a directory, or the zip
    of a ``--py-files`` deployment)."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory() -> str:
    """A third of physical memory, in MiB (Spark's ``"<n>m"`` form).

    G1 grows the heap toward its cap as a long session allocates, so a cap
    sized for a large host lets the driver's resident memory outgrow a
    small host's RAM; a third leaves room for the Python workers and the
    page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 3 // 2**20}m"


def local_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """DataFrame over driver-side ``rows`` (positional tuples), built as an
    Arrow local relation.

    ``spark.createDataFrame(<list>, schema)`` pickles the rows into a Python
    RDD, so every action over it, a broadcast of it included, runs a
    Python-worker job. The same rows sent as a ``pyarrow.Table`` plan as a
    JVM ``LocalTableScan``, which no Python worker reads: a direct collect
    of it runs no job. A broadcast of it still runs one JVM job, because
    ``BroadcastExchange`` collects the relation through an RDD of
    ``defaultParallelism`` slices (a ``F.broadcast(local_frame(...))`` join
    ran 2 jobs where the single-partition shuffle-hash join of the same
    frame ran 1). Each column is built as one typed Arrow array, so values
    convert as on the list path (doubles into ``array<float>`` round to
    float32) and a value that does not fit its type raises
    (``pyarrow.ArrowInvalid``), as does a row whose width differs from the
    schema's.

    :param schema: a DDL string (``"q_id string, n int"``) or a StructType.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Fork the per-core Python worker pool once, at session build.

    The first Python-evaluated stage otherwise pays ``cores`` concurrent
    worker cold-starts (fork + pandas/pyarrow import) inside whatever
    query happens to run first. Workers are reused afterwards
    (``spark.python.worker.reuse`` default); each later task still pays
    pyspark's per-task set-up, which :mod:`sparkforward.worker_daemon`
    keeps from re-reading zip archives. Idempotent per session.

    A worker that cannot start (its daemon module does not import, say)
    would fail every later Python stage with an opaque end-of-stream
    error, so the failure is raised here, naming the daemon module and the
    workers' ``PYTHONPATH``."""
    if getattr(spark, "_sfwd_prewarmed", False):
        return
    try:
        (
            spark.range(0, cores, 1, cores)
            .mapInPandas(lambda it: it, schema="id long")
            .write.format("noop").mode("overwrite").save()
        )
    except Exception as e:  # noqa: BLE001 — re-raised with the worker set-up
        conf = spark.sparkContext.getConf()
        spark.stop()  # a later get_spark must not get this session back
        paths = [
            conf.get("spark.executorEnv.PYTHONPATH", None),
            os.environ.get("PYTHONPATH"),
        ]
        raise RuntimeError(
            "Python workers failed to start: daemon module "
            f"{conf.get('spark.python.daemon.module', 'pyspark.daemon')!r}, "
            f"workers' PYTHONPATH {os.pathsep.join(p for p in paths if p)!r} "
            "(plus pyspark's own archives)"
        ) from e
    spark._sfwd_prewarmed = True


def is_alive(session: SparkSession) -> bool:
    """True while the session's SparkContext is usable."""
    try:
        return not session.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — context already torn down
        return False


class SessionScopedCache:
    """Driver-side cache of per-session artifacts: persisted frames, built
    indexes, the temp dirs they live in.

    Keys are tuples whose first element names a namespace
    (``("ranked", sf_dir)``); hits and misses are counted per namespace in
    :attr:`hits` and :attr:`misses`. Each entry holds its session, its value
    and an optional ``release(value, live)`` callback that frees it: a live
    session's entry unpersists its frames and removes its disk state; a
    stopped session's entry only removes disk state (its executor storage
    died with the context), so eviction then makes no Spark call. Every
    access evicts the entries of stopped sessions, so a long-lived service
    is cleaned up without calling :func:`release_caches`; an explicit
    release is for tests and for rotating corpora within one session.
    """

    def __init__(self) -> None:
        #: (id(session), *key) -> (session, value, release)
        self._entries: dict[tuple, tuple] = {}
        self.hits: Counter = Counter()
        self.misses: Counter = Counter()

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(self, session: SparkSession, key: tuple, build,
                     release=None, accept=None):
        """The value cached under ``key`` for ``session``, else ``build()``
        cached with ``release``. ``accept(value)``, when given, must hold
        for a cached value to count as a hit; a rejected value is evicted
        and rebuilt."""
        self._sweep()
        k = (id(session), *key)
        entry = self._entries.get(k)
        if entry is not None and (accept is None or accept(entry[1])):
            self.hits[key[0]] += 1
            return entry[1]
        if entry is not None:
            self._evict(self._entries.pop(k))
        self.misses[key[0]] += 1
        value = build()
        self._entries[k] = (session, value, release)
        return value

    def _sweep(self) -> None:
        alive: dict[int, bool] = {}
        for k, (s, _, _) in list(self._entries.items()):
            if not alive.setdefault(id(s), is_alive(s)):
                self._evict(self._entries.pop(k))

    def release(self) -> None:
        """Evict every entry."""
        while self._entries:
            self._evict(self._entries.popitem()[1])

    def release_disk_state(self) -> None:
        """Drop every entry, removing only its disk state (``release(value,
        live=False)``): what a process still holding entries does at exit,
        when its executor storage dies with it."""
        while self._entries:
            _, value, release = self._entries.popitem()[1]
            if release is not None:
                release(value, False)

    @staticmethod
    def _evict(entry: tuple) -> None:
        session, value, release = entry
        if release is None:
            return
        try:
            release(value, is_alive(session))
        except Exception:  # noqa: BLE001 — only a session stopped mid-release
            if is_alive(session):
                raise


def unpersist(df: DataFrame, live: bool) -> None:
    """``release`` of a cached persisted frame."""
    if live:
        df.unpersist()


def remove_dir(path: str, live: bool) -> None:
    """``release`` of a cached temp directory."""
    shutil.rmtree(path, ignore_errors=True)


#: the engine's one cache of per-session artifacts
SESSION_CACHE = SessionScopedCache()
# entries still held at exit would otherwise strand their temp dirs
atexit.register(SESSION_CACHE.release_disk_state)
#: session-free driver memos (see :func:`driver_memo`)
_DRIVER_MEMOS: list = []


def driver_memo(fn):
    """``functools.lru_cache`` for values that depend on no session (a
    quantizer fitted on a fixture file, say); :func:`release_caches`
    clears it."""
    memo = functools.lru_cache(maxsize=None)(fn)
    _DRIVER_MEMOS.append(memo)
    return memo


def release_caches() -> None:
    """Evict every :data:`SESSION_CACHE` entry (unpersisting live sessions'
    frames, removing temp dirs) and clear every :func:`driver_memo`."""
    SESSION_CACHE.release()
    for memo in _DRIVER_MEMOS:
        memo.cache_clear()
