"""The one derived-state memo (`derived.get_or_build`): its contract on
a fake context, single-flight builds, survival of a SparkContext
restart, and a scan that keeps module-level memo dicts out of the rest
of the package."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

from duckdb_extension_kafquack_spark import derived
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "duckdb_extension_kafquack_spark")

# Module-level dicts that are not derived state: the query registry
# `@query` fills at import, and the worker daemon's archive stat table
# (the daemon must stay light to import and runs in worker processes).
NOT_DERIVED_STATE = {"suite.REGISTRY", "pyworker_daemon._READ"}


def _context(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_contract_on_a_fake_context(monkeypatch):
    # a private memo, so the fake contexts leave the live one's entries be
    monkeypatch.setattr(derived, "_memo", {})
    monkeypatch.setattr(derived, "_flights", {})
    monkeypatch.setattr(derived, "_scope", None)
    kind = "test-contract"
    ctx = _context("app-contract-1")
    calls = []

    def build(value):
        def run():
            calls.append(value)
            return value

        return run

    assert derived.get_or_build(kind, ctx, "k", build(1)) == 1
    assert derived.get_or_build(kind, ctx, "k", build(2)) == 1  # hit
    assert derived.get_or_build(kind, ctx, None, build(3)) == 3  # unmemoized
    assert derived.get_or_build(kind, ctx, "k", build(4), valid=lambda v: v > 1) == 4
    for key in ("a", "b", "c"):
        derived.get_or_build("test-lru", ctx, key, build(key), keep=2)
    derived.get_or_build("test-lru", ctx, "b", build("b2"), keep=2)  # refreshes "b"
    derived.get_or_build("test-lru", ctx, "d", build("d"), keep=2)  # evicts "c"
    assert {k[2] for k in derived.entries("test-lru")} == {"b", "d"}
    assert calls == [1, 3, 4, "a", "b", "c", "d"]
    # a new context drops every entry of the old one
    derived.get_or_build(kind, _context("app-contract-2"), "k", build(5))
    assert derived.entries() == {("app-contract-2", kind, "k"): 5}


def test_verified_cc_labels_build_is_single_flight(spark, tables, monkeypatch):
    """Eight concurrent first callers of one corpus share ONE
    connected-components build and the same labels frame."""
    from duckdb_extension_kafquack_spark.operators import dedup

    docs = tables["documents"].filter("doc_id % 5 = 0")  # no other test's plan
    builds = []
    real = dedup.connected_components

    def counting(pairs):
        builds.append(threading.get_ident())
        time.sleep(0.2)  # hold the build open while the others arrive
        return real(pairs)

    monkeypatch.setattr(dedup, "connected_components", counting)
    start = threading.Barrier(8)
    got = [None] * 8

    def call(i):
        start.wait(timeout=60)
        got[i] = dedup._verified_cc_labels(docs)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
        derived.clear("verified_cc")
        for persisted in (
            dedup._persisted_verified_pairs,
            dedup._persisted_candidate_pairs,
            dedup._persisted_sig_sets,
        ):
            persisted(docs).unpersist(blocking=False)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert got[0] is not None and all(g is got[0] for g in got)


RESTART = """
import sys

from duckdb_extension_kafquack_spark import derived
from duckdb_extension_kafquack_spark.operators.curation import (
    _persisted_grams,
    ensure_fuzzy_bench_store,
)
from duckdb_extension_kafquack_spark.session import get_spark, load_tables
from duckdb_extension_kafquack_spark.streaming.windows import _incr_corpus_rels_stored

sf = sys.argv[1]


def touch(spark):
    docs = load_tables(spark, sf)["documents"]
    return (
        _incr_corpus_rels_stored(spark, sf)[1].count(),
        spark.table(ensure_fuzzy_bench_store(spark, sf)[0]).count(),
        _persisted_grams(docs).count(),
    )


spark = get_spark("derived-restart")
first = touch(spark)
old = spark.sparkContext.applicationId
spark.stop()
spark = get_spark("derived-restart")
assert touch(spark) == first, first
new = spark.sparkContext.applicationId
assert new != old
assert {app for app, _kind, _key in derived.entries()} == {new}
spark.stop()
print("restart-ok")
"""


def test_memo_survives_spark_context_restart(tmp_path):
    """After spark.stop() and a fresh get_spark(), the stored-index
    relations, the fuzzy benchmark store and the persisted grams are
    rebuilt in the new context instead of handing back tables or frames
    of the stopped one.  Runs in its own process (and warehouse dir):
    stopping the context would end the suite's shared session."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", RESTART, SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0 and "restart-ok" in out.stdout, out.stderr[-3000:]


def _module_level_empty_dicts(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id == "dict"
            and not value.args
            and not value.keywords
        )
        for t in targets:
            if empty and isinstance(t, ast.Name) and t.id.lstrip("_")[:1].isupper():
                found.append(t.id)
    return found


def memo_dicts() -> list[str]:
    """``module.NAME`` for every module-level empty-dict assignment to
    an upper-case name in the package, outside derived.py."""
    out = []
    for dirpath, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == derived.__file__:
                continue
            module = f[:-3]
            out += [f"{module}.{name}" for name in _module_level_empty_dicts(path)]
    return sorted(set(out) - NOT_DERIVED_STATE)


def test_no_memo_dicts_outside_derived():
    assert memo_dicts() == []
