from __future__ import annotations

import contextlib
import os
import sys
import tempfile
import types
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"

# Known locations shipping a pure-python google.protobuf when the
# package isn't pip-installed (the google-cloud-sdk bundles one).
_PROTOBUF_HOSTS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _ensure_protobuf() -> None:
    """Make ``google.protobuf`` importable if a bundled copy exists.

    transformWithState's Python-side state server speaks protobuf; the
    sandbox has no pip access, but the google-cloud-sdk ships a full
    pure-python protobuf. Exposing the WHOLE sdk platform dir would
    shadow unrelated top-level names (api_server, demos, ...), so build
    a tempdir shim holding only ``google/protobuf`` (symlink) and put it
    on sys.path AND $PYTHONPATH — the latter BEFORE the JVM launches so
    forked Python workers inherit it. No-op when protobuf is already
    installed or no bundled copy exists (tests then skip as before)."""
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    for host in _PROTOBUF_HOSTS:
        src = Path(host) / "google" / "protobuf"
        if not (src / "__init__.py").exists():
            continue
        shim = Path(tempfile.mkdtemp(prefix="pb_shim_")) / "google"
        shim.mkdir()
        (shim / "__init__.py").write_text(
            "__path__ = __import__('pkgutil').extend_path(__path__, __name__)\n"
        )
        (shim / "protobuf").symlink_to(src)
        sys.path.insert(0, str(shim.parent))
        os.environ["PYTHONPATH"] = (
            str(shim.parent) + os.pathsep + os.environ.get("PYTHONPATH", "")
        )
        # The sdk bundle can trail pyspark's gencode by a minor version
        # (6.32 runtime vs 6.33 gencode); the strict same-or-newer check
        # would reject an otherwise wire-compatible pairing. Scoped to
        # the shim path only — a pip-installed protobuf returns above.
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")
        try:
            import google.protobuf  # noqa: F401

            return
        except ImportError:
            sys.path.remove(str(shim.parent))


_ensure_protobuf()


@pytest.fixture(scope="session")
def spark():
    from etl_covid19_brasil_spark import get_spark

    # Pinned to 8 local cores (r17, VERDICT r16 item 2 — the driver's
    # pytest gate outgrew its budget): at test row counts every heavy
    # suite path is SCHEDULING-overhead-bound, not compute-bound, so
    # more local cores mean more task-dispatch cost for zero useful
    # parallelism. Measured on the three modules at the driver's r16
    # truncation point ([9%] = early test_ann_recall): the worst three
    # tests ran 591 s at local[32] vs 265 s at local[8] on the same
    # box — the same 8-beats-32 inversion the driver's own 8-core
    # bench control showed (BENCH_r16_c8) and this round's minhash A/B
    # reproduced. Bench runs are untouched (bench.py builds its own
    # session honoring $SPARK_GRAFT_CPUS); this is test-session-only.
    s = get_spark(
        app_name="tests",
        master=f"local[{min(8, os.cpu_count() or 8)}]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck_smoke():
    from etl_covid19_brasil_spark.oracle import duckdb_connection

    con = duckdb_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_gate():
    from etl_covid19_brasil_spark.oracle import duckdb_connection

    con = duckdb_connection(SF_GATE)
    yield con
    con.close()


@contextlib.contextmanager
def jobs_submitted(spark):
    """Count the Spark jobs a block submits, from any thread: ``with
    jobs_submitted(spark) as c: ...`` then ``c.jobs``. Reads the
    scheduler's job-id counter once the listener bus has drained; job
    groups are thread-local, so a group misses the jobs that worker
    threads (``etl.run_tasks_parallel``'s pool) submit."""
    sc = spark.sparkContext._jsc.sc()

    def total() -> int:
        sc.listenerBus().waitUntilEmpty()
        return sc.dagScheduler().numTotalJobs()

    count = types.SimpleNamespace(jobs=0)
    start = total()
    try:
        yield count
    finally:
        count.jobs = total() - start
