from __future__ import annotations

import numpy as np
import pytest

from qdrant_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="qdrant-spark-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def points_basic(spark):
    """The canonical 10-point fixture from the reference REST test suite
    (tests/openapi/helpers/collection_setup.py:165-228) — see FIXTURES.md F1."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("version", T.LongType(), False),
            T.StructField("vec", T.ArrayType(T.FloatType()), True),
            T.StructField(
                "sparse_text",
                T.StructType(
                    [
                        T.StructField("indices", T.ArrayType(T.IntegerType())),
                        T.StructField("values", T.ArrayType(T.FloatType())),
                    ]
                ),
                True,
            ),
            T.StructField("city", T.ArrayType(T.StringType()), True),
            T.StructField("price", T.ArrayType(T.DoubleType()), True),
            T.StructField("count", T.ArrayType(T.LongType()), True),
            T.StructField("city__isnull", T.BooleanType(), True),
            T.StructField("price__isnull", T.BooleanType(), True),
        ]
    )
    rows = [
        ("1", 0, [0.05, 0.61, 0.76, 0.74], None, ["Berlin"], [10.0], None, False, False),
        ("2", 0, [0.19, 0.81, 0.75, 0.11], None, ["Berlin", "London"], [11.0], None, False, False),
        ("3", 0, [0.36, 0.55, 0.47, 0.94], None, ["Berlin", "Moscow"], [9.5], None, False, False),
        ("4", 0, [0.18, 0.01, 0.85, 0.80], None, ["London", "Moscow"], [9.0], None, False, False),
        ("5", 0, [0.24, 0.18, 0.22, 0.44], None, None, None, [0], False, False),
        ("6", 0, [0.35, 0.08, 0.11, 0.44], None, None, None, None, False, False),
        ("7", 0, [0.25, 0.98, 0.14, 0.43], None, None, None, None, True, True),
        ("8", 0, [0.79, 0.53, 0.72, 0.15], None, [], [], None, False, False),
        ("9", 0, None, ([66, 12], [0.5, 0.5]), None, None, None, False, False),
        ("10", 0, None, ([1, 2, 3], [0.1, 0.2, 0.3]), [], [], None, False, False),
    ]
    return spark.createDataFrame(rows, schema)


TIED_VEC = [0.5, 1.0, 0.25, 2.0]


@pytest.fixture(scope="session")
def tied_points(spark):
    """3000 rows in ONE partition that all carry the same vector (``vec``)
    and multivector (``mv``), stored in shuffled id order: every query
    scores every row the same, so any exact top-k is ids 1..k (ties break
    by id ascending)."""
    ids = np.random.default_rng(7).permutation(np.arange(1, 3001))
    rows = [(int(i), TIED_VEC, [TIED_VEC, TIED_VEC]) for i in ids]
    return spark.createDataFrame(
        rows, "id long, vec array<float>, mv array<array<float>>"
    ).coalesce(1)


class InjectedCrash(RuntimeError):
    """Raised by ``fail_at`` where a process would die mid-commit."""


#: the points of a versioned commit a crash can fall between
COMMIT_STEPS = ("written", "swap", "retire")


class _NoReplace:
    """``os`` for qdrant_spark.versioned with ``os.replace`` crashing."""

    def __getattr__(self, name):
        import os

        return getattr(os, name)

    @staticmethod
    def replace(*_args):
        raise InjectedCrash("before the pointer swap")


@pytest.fixture
def fail_at():
    """``with fail_at(step):`` makes every versioned commit inside the
    block raise :class:`InjectedCrash` at ``step``:

    - ``"written"``: after the data write, before the commit starts;
    - ``"swap"``: the temp pointer written, before ``os.replace``;
    - ``"retire"``: after the swap, before old versions are retired."""
    from contextlib import contextmanager

    from qdrant_spark import versioned

    def crash(*_args, **_kwargs):
        raise InjectedCrash

    @contextmanager
    def arm(step):
        mp = pytest.MonkeyPatch()
        if step == "written":
            mp.setattr(versioned, "commit", crash)
        elif step == "swap":
            mp.setattr(versioned, "os", _NoReplace())
        elif step == "retire":
            mp.setattr(versioned, "_retire", crash)
        else:
            raise ValueError(f"unknown commit step {step!r}")
        try:
            yield
        finally:
            mp.undo()

    return arm
