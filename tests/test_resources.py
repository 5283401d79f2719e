"""Resource lifetime: :func:`resource_scope` owns the caches :func:`pin`,
the checkpoint RDDs :func:`checkpoint` and the directories
:func:`scratch_dir` make inside it, :func:`session_dir` owns what outlives
one call, and :func:`materialize` hands a result back free of them."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import big_data_validator_spark.operators as O
from big_data_validator_spark.operators import (
    checkpoint,
    materialize,
    pin,
    resource_scope,
    scratch_dir,
)
from big_data_validator_spark.operators import dedup as D

ROOT = Path(__file__).resolve().parents[1]


def test_resource_scope_releases_pins_on_exit_and_on_error(spark):
    """An operator's pinned cache stays cached while its scope is open
    and is released when the scope exits; a block that raises releases
    its caches and scratch directories too.  Outside any scope ``pin``
    is a plain cache the caller owns."""
    docs = spark.createDataFrame(
        [(i, f"some shared text body {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    with resource_scope() as held:
        D.minhash_lsh_candidates(docs).count()
        assert held
        for c in held:
            assert c.storageLevel.useMemory
    pinned = list(held)
    for c in pinned:
        assert not c.storageLevel.useMemory

    with pytest.raises(RuntimeError, match="boom"):
        with resource_scope() as held:
            df = pin(spark.range(5))
            path = scratch_dir("bdv_scope_probe_")
            with resource_scope() as inner:
                pin(spark.range(3))
            assert len(inner) == 1 and held[0] is df and held[1:] == [path]
            assert df.storageLevel.useMemory and os.path.isdir(path)
            raise RuntimeError("boom")
    assert not df.storageLevel.useMemory
    assert not os.path.exists(path)

    bare = pin(spark.range(2))
    assert bare.storageLevel.useMemory
    bare.unpersist()


def test_checkpoints_are_unpersisted_when_their_scope_exits(spark):
    """A checkpoint made inside a scope is held by it and its RDDs leave
    the JVM's persistent-RDD map on exit; the registry entries that
    checkpoint (BPE training, FD discovery) leave no persistent RDD
    behind.  Ids, not counts: the driver's GC may free RDDs that earlier
    tests left outside any scope meanwhile."""
    from __spark_entry__ import SMOKE_SF_DIR
    from big_data_validator_spark.queries import REGISTRY

    def rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = rdds()
    with resource_scope() as held:
        assert checkpoint(spark.range(10)).count() == 10
        assert held and rdds() - before
    assert rdds() <= before

    for name in ("text_bpe_learn", "profile_fd_discovery"):
        before = rdds()
        assert REGISTRY[name].fn(spark, SMOKE_SF_DIR).collect()
        assert rdds() <= before, name


def test_session_dirs_are_removed_at_exit(tmp_path):
    """Session-lived directories share one root that the process removes
    when it exits, leaving nothing in its temp dir."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os\n"
        "from big_data_validator_spark.operators import session_dir\n"
        "a, b = session_dir('bdv_a_'), session_dir('bdv_b_')\n"
        "assert a != b and os.path.dirname(a) == os.path.dirname(b)\n"
        "open(os.path.join(a, 'f'), 'w').close()\n"
        "print(a)\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert proc.stdout.startswith(str(tmp))
    assert os.listdir(tmp) == []


def test_materialize_query_failure_raises_once(spark, monkeypatch):
    """A failing query raises from the Arrow path; the Row fallback
    never re-runs it."""
    from pyspark.errors import PySparkException

    bad = spark.range(3).select(
        (F.col("id") + F.raise_error(F.lit("boom")).cast("long")).alias("x")
    )
    calls = []
    monkeypatch.setattr(type(bad), "collect", lambda self: calls.append(1))
    with pytest.raises(PySparkException, match="boom"):
        materialize(bad)
    assert calls == []


def test_materialize_arrow_conversion_falls_back(spark, monkeypatch, caplog):
    """An Arrow conversion failure falls back to Rows, and says so once."""
    import pyarrow as pa

    def no_arrow(self):
        raise pa.ArrowInvalid("unconvertible")

    df = spark.range(3).select((F.col("id") * 2).alias("x"))
    monkeypatch.setattr(type(df), "toArrow", no_arrow)
    monkeypatch.setattr(O, "_row_fallback_logged", False)
    with caplog.at_level("WARNING", logger=O.__name__):
        first = materialize(df)
        second = materialize(df)
    assert sorted(r.x for r in first.collect()) == [0, 2, 4]
    assert second.count() == 3
    logged = [r.getMessage() for r in caplog.records]
    assert len(logged) == 1 and "Arrow conversion failed" in logged[0]
