"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the configs
below are chosen so the same logical plans survive a 1000-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
every Python<->JVM boundary, and shuffle partitions sized to the local core
count rather than the 200 default.

Python workers start through :mod:`qdrant_spark._pydaemon`
(``spark.python.daemon.module``). Spark puts ``pyspark.zip``, the py4j zip
and the spark-core jar first on the workers' ``PYTHONPATH``; pyspark calls
``importlib.invalidate_caches()`` once per task, and on Python 3.11 that
re-reads every archive's directory (~26k entries, 0.13-0.23 s per task on
4 vCPUs). The daemon drops those archives so pyspark and py4j import from
the installed packages. It keeps them, with one stderr line saying why,
when the installed pyspark is not the archive's release or py4j is not
installed. ``get_spark`` keeps Spark's own daemon when a worker started
from the current directory and ``PYTHONPATH`` could not import this
package (an ``extra_conf`` entry overrides either choice).
"""

from __future__ import annotations

import os
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame


def has_nan(v) -> bool:
    """Whether a float NaN sits anywhere in ``v`` (rows, arrays, map
    cells). Arrow's from_pandas turns float NaN into NULL while the JVM
    path keeps it, so driver-local rows holding one skip the Arrow
    path."""
    import math

    if isinstance(v, float):
        return math.isnan(v)
    if isinstance(v, (list, tuple)):
        return any(has_nan(x) for x in v)
    if isinstance(v, dict):
        return any(has_nan(x) for kv in v.items() for x in kv)
    return False


def local_df(spark: SparkSession, data, schema):
    """Driver-local rows → DataFrame through the Arrow LOCAL RELATION
    path instead of a pickled python RDD.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` python partitions, so every later
    ``collect()`` of the (tiny) frame runs a full job of python-worker
    tasks — measured 0.8 s for a 64-row query frame on local[32], paid
    INSIDE every timed batch operator that collects its query set. The
    pandas/Arrow path (optimization guide §6 "Arrow for driver
    transfers") plans the same rows as a LocalRelation: collect() is
    driver-only (~7 ms), joins against it broadcast without a job, and
    the values are identical (the Arrow cast to the explicit schema is
    the same double→float rounding the JVM path applies). Falls back to
    plain ``createDataFrame`` for rows holding a NaN and for shapes the
    Arrow conversion rejects (nested maps with mixed key types, exotic
    objects); any other error propagates."""
    import pandas as pd
    from pyspark.sql import types as T

    rows = ([tuple(r) for r in data]
            if not isinstance(data, pd.DataFrame) else None)
    if rows is not None and has_nan(rows):
        return spark.createDataFrame(data, schema)
    st = (T._parse_datatype_string(schema)
          if isinstance(schema, str) else schema)
    try:
        pdf = pd.DataFrame(rows if rows is not None else data,
                           columns=st.fieldNames(), dtype=object)
        df = spark.createDataFrame(pdf, schema=st)
    except (pa.ArrowException, TypeError, ValueError):
        return spark.createDataFrame(data, schema)
    if not df.isLocal():  # threshold exceeded / arrow off: no win
        return spark.createDataFrame(data, schema)
    return df


class LazyFrame(DataFrame):
    """A DataFrame whose JVM plan is built on first use: the first
    transformation or action that reaches the JVM calls ``build()`` —
    once — and runs on the frame it returns. Every py4j round trip of
    building a plan that nothing runs is saved.

    ``schema``, when given, answers ``schema`` / ``columns`` without a
    build; ``rows``, when given, answers ``collect()`` without one (a
    result already on the driver). ``_qs_topk`` holds the map-side
    candidates of a :func:`~qdrant_spark.operators.knn.arrow_topk`
    result (None on any other frame)."""

    _qs_topk: Any = None

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, session: SparkSession, build: Callable[[], DataFrame],
                 *, schema: Any = None,
                 rows: Callable[[], list] | None = None,
                 topk: Any = None):
        self._session = session
        self._sc = session.sparkContext
        self.is_cached = False
        self._support_repr_html = False
        self._qs_build, self._qs_jdf = build, None
        self._qs_rows, self._qs_topk = rows, topk
        if schema is not None:
            self.__dict__["schema"] = schema  # DataFrame.schema's cache slot

    @property
    def _jdf(self):
        if self._qs_jdf is None:
            self._qs_jdf = self._qs_build()._jdf
        return self._qs_jdf

    def collect(self) -> list:
        if self._qs_rows is not None:
            return self._qs_rows()
        return super().collect()


def _worker_imports_package() -> bool:
    """Whether a Python worker would import this ``qdrant_spark``: Spark
    starts it in this process's working directory with this process's
    ``PYTHONPATH`` ahead of the interpreter's site-packages."""
    import site
    from importlib.machinery import PathFinder

    path = [os.getcwd(),
            *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep)),
            *site.getsitepackages()]
    spec = PathFinder.find_spec(__package__, path)
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "__init__.py")
    return (spec is not None and spec.origin is not None
            and os.path.samefile(spec.origin, here))


def _default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 40 % of
    physical memory, capped at 48g. A fixed 48g let a test session's JVM
    grow to the whole of a 15 GiB box without swap and die mid-run; the
    rest of the box is left to the Python workers and the OS."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(48 << 10, int(phys * 0.4) >> 20))}m"


def get_spark(
    app_name: str = "qdrant_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = str(shuffle_partitions or cpus)
    # one BLAS thread per python worker: tasks already use every core, so
    # nested BLAS threading (32 workers x N threads) just thrashes — ~6x
    # slowdown measured on the block-matmul KNN path
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # testdata events.parquet uses TIMESTAMP(NANOS); read as epoch-nanos long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if _worker_imports_package():
        # workers import the installed pyspark, not SPARK_HOME's zips
        # (see the module docstring)
        builder = builder.config("spark.python.daemon.module",
                                 "qdrant_spark._pydaemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
