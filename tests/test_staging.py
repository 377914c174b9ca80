"""The staging registry (datafusion_remote_table_spark/staging.py): keys,
build-once, lifetimes and the perfbench clear entry points, plus a guard
that keeps every staging inside it."""

from __future__ import annotations

import ast
import hashlib
import os
import re
import threading

import pytest

from datafusion_remote_table_spark import staging
from datafusion_remote_table_spark.plans import llm_data as L

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "datafusion_remote_table_spark")


@pytest.fixture
def own_dir(sf_dir, tmp_path):
    """A private spelling of the test dataset: entries keyed on it are
    shared with no other test."""
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(os.path.abspath(sf_dir), f), tmp_path / f)
    return str(tmp_path)


def _counting(spark, calls):
    def build():
        calls.append(1)
        return spark.range(3)

    return build


def _temp_views(spark, sf_dir) -> set[str]:
    """The staging views of ``sf_dir`` registered in the session."""
    suffix = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return {t.name for t in spark.catalog.listTables() if t.isTemporary and t.name.endswith(suffix)}


def test_released_parents_stay_cached_under_live_persisted_child(spark, own_dir):
    # the round-11 failure: freeing the persisted minhash shingles and
    # signatures under the persisted verified pairs replayed the whole
    # band join per reference. Releasing them first must keep them.
    pairs = L._minhash_pairs(spark, own_dir)
    pairs.frame.count()
    sh, sig, bands = L._minhash_stage(spark, own_dir)
    sh_df, sig_df = sh.frame, sig.frame
    staging.release(spark, own_dir, "mh_sh", "mh_sig", "mh_bands", "documents_spread")
    assert sh_df.is_cached and sig_df.is_cached
    assert {sh, sig, bands} <= _temp_views(spark, own_dir)
    staging.release(spark, own_dir, "mh_pairs")
    assert not sh_df.is_cached and not sig_df.is_cached
    assert _temp_views(spark, own_dir) == set()
    assert staging.live(spark, own_dir) == {}


def test_checkpoint_child_does_not_pin(spark, own_dir):
    parent = staging.stage(spark, own_dir, "p", lambda: spark.range(5), "persist")
    staging.stage(
        spark, own_dir, "c", lambda: spark.table(parent).selectExpr("id * 2 AS id"), "checkpoint"
    )
    staging.release(spark, own_dir, "p")
    assert set(staging.live(spark, own_dir)) == {"c"}


def test_concurrent_callers_build_each_name_once(spark, own_dir):
    # more threads than cores, switching often: a lost check-then-act
    # in the registry would build a name twice
    import sys

    n_threads, names = 8, ("once_a", "once_b", "once_c")
    calls = {n: [] for n in names}
    gate = threading.Barrier(n_threads)
    out: list = []

    def run():
        gate.wait()
        for name in names:
            out.append(staging.stage(spark, own_dir, name, _counting(spark, calls[name]), "view"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert {n: len(c) for n, c in calls.items()} == {n: 1 for n in names}
    assert len(out) == n_threads * len(names) and len(set(out)) == len(names)


def test_relative_and_absolute_dir_share_one_entry(spark, own_dir):
    calls: list = []
    a = staging.stage(spark, own_dir, "shared", _counting(spark, calls), "view")
    b = staging.stage(spark, os.path.relpath(own_dir), "shared", _counting(spark, calls), "view")
    assert a == b and len(calls) == 1


def test_read_after_release_is_counted(spark, own_dir):
    calls: list = []
    staging.stage(spark, own_dir, "r", _counting(spark, calls), "view")
    before = staging.REGISTRY.rebuilt_after_release
    staging.release(spark, own_dir, "r")
    staging.stage(spark, own_dir, "r", _counting(spark, calls), "view")
    assert len(calls) == 2
    assert staging.REGISTRY.rebuilt_after_release == before + 1


def test_bpe_and_unigram_release_drops_every_intermediate_view(spark, own_dir):
    # every view a composite build registers (the BPE merge levels, the
    # unigram bestlen frames, the spread scan) is its own entry, so
    # releasing what the consumers read leaves no view behind
    with staging.tagged("tokenizers"):
        best_views, vocab = L._bpe_stage(spark, own_dir)
        L._uni_stage2(spark, own_dir)
    names = staging.REGISTRY.reads["tokenizers"]
    assert {"bpe_words0", "uni_bestlen", "uni_bestlen2"} <= names
    assert set(best_views) | {vocab} <= _temp_views(spark, own_dir)
    staging.release(spark, own_dir, *names)
    assert _temp_views(spark, own_dir) == set()
    assert staging.live(spark, own_dir) == {}


def test_perfbench_clear_calls_force_a_rebuild(spark, own_dir):
    # perfbench/workloads.py:clear_stagings clears through these names
    from datafusion_remote_table_spark.operators import dedup as op_dedup
    from datafusion_remote_table_spark.plans import llm_data, relational

    calls: list = []
    staging.stage(spark, own_dir, "cold", _counting(spark, calls), "persist")
    llm_data._MINHASH_STAGE_CACHE.clear()
    relational._RANK_STAGE_CACHE.clear()
    op_dedup.release_persisted()
    staging.stage(spark, own_dir, "cold", _counting(spark, calls), "persist")
    assert len(calls) == 2


PERFBENCH_ALIASES = {"_MINHASH_STAGE_CACHE", "_RANK_STAGE_CACHE", "release_persisted"}


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py") and f != "staging.py":
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_stagings_live_only_in_the_registry():
    problems = []
    for rel, src in _modules():
        if re.search(r"\bid\(\s*(spark|df)\b", src):
            problems.append(f"{rel}: keys on id()")
        tree = ast.parse(src)
        for node in tree.body:
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            for t in targets:
                name = getattr(t, "id", "")
                if name in PERFBENCH_ALIASES:
                    if "staging." not in ast.unparse(node.value):
                        problems.append(f"{rel}: {name} is not bound to the registry")
                elif re.search(r"STAGE|CACHE|PERSIST", name, re.I) and isinstance(
                    node.value, (ast.Dict, ast.List, ast.Set, ast.Call)
                ):
                    problems.append(f"{rel}: module-level staging store {name}")
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = {
                n.func.attr for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            }
            if "createOrReplaceTempView" in calls and calls & {"persist", "localCheckpoint"}:
                problems.append(f"{rel}:{fn.lineno} {fn.name} materializes a view outside stage()")
    assert not problems, problems
