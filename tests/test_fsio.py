"""fsio: the one module that lists, locks, renames and probes state
files. Covers the exclusive-create lock under thread contention, parity
between the local ``os`` fast path and the Hadoop FileSystem branch, and
a guard that keeps raw Hadoop FS calls out of every other module."""

from __future__ import annotations

import os
import pathlib
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from py_data_pipeline_app_spark import fsio
from py_data_pipeline_app_spark.functions.frames import local_rows_df

THREADS = 6


@pytest.fixture(params=["local", "hadoop"])
def branch(request, monkeypatch):
    """Run the test once on each fsio branch: ``hadoop`` forces every
    path through the Hadoop FileSystem API (``_local_path`` answers
    None, as it does for HDFS/S3A/GCS paths)."""
    if request.param == "hadoop":
        monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    return request.param


def _race(spark, index_path: str) -> list[str]:
    """THREADS threads released together into ``fsio.index_lock``; the
    winner holds the lock until every thread has an outcome. Returns one
    outcome per thread: "won", "locked", or the repr of anything else."""
    start = threading.Barrier(THREADS)
    done = threading.Barrier(THREADS, timeout=60)
    outcomes: list[str] = []

    def worker() -> None:
        start.wait()
        try:
            with fsio.index_lock(spark, index_path, "race"):
                outcomes.append("won")
                done.wait()
            return
        except RuntimeError as e:
            outcomes.append("locked" if "locked" in str(e) else repr(e))
        except Exception as e:  # noqa: BLE001 — any raw error fails the trial
            outcomes.append(repr(e))
        done.wait()

    threads = [threading.Thread(target=worker) for _ in range(THREADS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    return outcomes


def test_index_lock_admits_exactly_one_holder(spark, tmp_path):
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the racing threads densely
    try:
        for trial in range(100):
            idx = str(tmp_path / f"idx-{trial}")
            outcomes = _race(spark, idx)
            assert sorted(outcomes) == ["locked"] * (THREADS - 1) + ["won"], (
                trial,
                outcomes,
            )
            assert not os.path.exists(f"{idx}/{fsio.LOCK_FILE}")
    finally:
        sys.setswitchinterval(interval)


def test_index_lock_losers_get_locked_error_on_hadoop_branch(
    spark, tmp_path, monkeypatch
):
    """On the Hadoop branch exclusivity is the filesystem's own
    ``create(overwrite=false)`` guarantee — atomic on HDFS, but Hadoop's
    LocalFileSystem (the only one this test can reach) checks then
    creates, which is why local paths take the ``O_EXCL`` branch. What
    the branch itself must guarantee everywhere: a loser sees the
    "locked" error, never a raw JVM exception, and a held lock refuses
    every later caller."""
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    for trial in range(10):
        idx = str(tmp_path / f"idx-{trial}")
        outcomes = _race(spark, idx)
        assert len(outcomes) == THREADS
        assert set(outcomes) <= {"won", "locked"}, outcomes
        assert "won" in outcomes
    idx = str(tmp_path / "held")
    with fsio.index_lock(spark, idx, "holder"):
        for _ in range(THREADS):
            with pytest.raises(RuntimeError, match="locked"):
                with fsio.index_lock(spark, idx, "late"):
                    pass
    assert not fsio.exists(spark, f"{idx}/{fsio.LOCK_FILE}")


def _fs_sequence(spark, root: str) -> list:
    """One fixed sequence of fsio calls; returns every observable
    result so the two branches can be compared."""
    out: list = []
    a = fsio.join(root, "a")
    fsio.mkdirs(spark, fsio.join(a, "sub"))
    fsio.write_json(spark, fsio.join(a, "x.json"), {"k": [1, 2]})
    out.append(fsio.read_json(spark, fsio.join(a, "x.json")))
    out.append(fsio.child_entries(spark, a))
    out.append(fsio.child_entries(spark, fsio.join(root, "missing")))
    out.append(
        fsio.mtime_ms(spark, fsio.join(a, "x.json"))
        == os.stat(f"{a}/x.json").st_mtime_ns // 1_000_000
    )
    out.append(fsio.any_file_with_suffix(spark, root, ".json"))
    out.append(fsio.any_file_with_suffix(spark, root, ".parquet"))
    out.append(fsio.any_file_with_suffix(spark, fsio.join(root, "missing"), ".json"))
    fsio.rename(spark, fsio.join(a, "x.json"), fsio.join(a, "y.json"))
    out.append(fsio.child_entries(spark, a))
    with pytest.raises(OSError):
        fsio.rename(spark, fsio.join(a, "gone"), fsio.join(a, "z.json"))
    out.append(fsio.exists(spark, fsio.join(a, "z.json")))
    lock = fsio.join(root, "locks", "one")
    out.append([fsio.create_exclusive(spark, lock) for _ in range(3)])
    fsio.delete(spark, a)
    fsio.delete(spark, fsio.join(root, "missing"))  # no-op
    out.append(fsio.exists(spark, a))
    out.append(fsio.child_names(spark, root))
    return out


def test_branch_parity(spark, tmp_path, monkeypatch):
    local = _fs_sequence(spark, str(tmp_path / "local"))
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    hadoop = _fs_sequence(spark, str(tmp_path / "hadoop"))
    assert local == hadoop
    assert local[1] == [("sub", True), ("x.json", False)]
    assert local[3:7] == [True, True, False, False]
    assert local[-3] == [True, False, False]


def test_index_fold_and_compaction_on_both_branches(spark, tmp_path, branch):
    """One span fold sequence + fps compaction, and one IVF append +
    compaction, give the same answers on either fsio branch."""
    from py_data_pipeline_app_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_index_compact,
        ivf_index_delete,
    )
    from py_data_pipeline_app_spark.operators.span_dedup_incremental import (
        compact_fps,
        incremental_span_fold,
    )

    docs = local_rows_df(
        spark,
        "doc_id long, text string",
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "iota kappa lambda mu nu xi omicron pi"),
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "rho sigma tau upsilon phi chi psi omega"),
        ],
    )
    span = str(tmp_path / f"span-{branch}")
    rebuilt = []
    for tok, lo, hi in (("a", 0, 10), ("b", 10, 20)):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        rebuilt += incremental_span_fold(
            spark, span, batch, chunk_tokens=4, batch_token=tok
        ).collect()
    assert sorted((r.doc_id, r.n_chunks, r.n_kept) for r in rebuilt) == [
        (1, 2, 2),
        (2, 2, 2),
        (10, 2, 0),
        (11, 2, 2),
    ]
    assert compact_fps(spark, span) == 2
    assert fsio.child_names(spark, f"{span}/fps")[0].startswith("batch-compact-")
    with pytest.raises(ValueError, match="chunk_tokens"):
        incremental_span_fold(spark, span, docs, chunk_tokens=5, batch_token="c")

    vecs = local_rows_df(
        spark,
        "vec_id long, embedding array<double>",
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(24)],
    )
    ivf = str(tmp_path / f"ivf-{branch}")
    build_ivf_index(vecs.filter(F.col("vec_id") < 12), ivf, n_centroids=3)
    ivf_index_append(spark, ivf, vecs.filter(F.col("vec_id") >= 12), batch_token="x")
    ivf_index_delete(spark, ivf, vecs.filter(F.col("vec_id") == 5).select("vec_id"))
    assert ivf_index_compact(spark, ivf) == 2
    ids = sorted(
        r.vec_id for r in spark.read.parquet(f"{ivf}/assigned").collect()
    )
    assert ids == [i for i in range(24) if i != 5]
    assert sorted(fsio.child_names(spark, ivf)) == [
        "assigned",
        "centroids",
        "config",
    ]


#: raw Hadoop FileSystem access outside fsio.py — every module manages
#: its files through fsio so the local-vs-Hadoop decision lives once
_RAW_FS = re.compile(
    r"org\.apache\.hadoop\.fs|getFileSystem|listStatus|listFiles"
    r"|createNewFile|_hadoop_fs\("
)


def test_no_raw_hadoop_fs_calls_outside_fsio():
    pkg = pathlib.Path(fsio.__file__).parent
    offenders = [
        f"{path.relative_to(pkg.parent)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "fsio.py" or path.parent != pkg
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _RAW_FS.search(line)
    ]
    assert not offenders, "\n".join(offenders)
