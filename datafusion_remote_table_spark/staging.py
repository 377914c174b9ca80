"""Session stagings: one registry owns every staging's key,
materialization and lifetime.

A *staging* is an intermediate result that queries of one session share
(the minhash shingles, a tf census, a checkpointed BPE merge level...).
Every staging goes through :func:`stage`::

    view = stage(spark, sf_dir, "mh_sh", lambda: spark.sql(...), "persist")
    spark.sql(f"SELECT ... FROM {view}")    # SQL consumers
    view.frame                               # the materialized DataFrame

The key is (session, ``abspath(sf_dir)``, name). The session is held
weakly (no ``id()`` that a later session could reuse), and a relative
and an absolute spelling of one dataset share one entry. The view name
is ``{name}_{md5(abspath(sf_dir))[:8]}``: private per dataset, never a
shared table name. That matters: ``createOrReplaceTempView("documents")``
by any later query uncaches every cached plan that referenced the
replaced view (Spark recaches by name). That trap silently dropped the
minhash staging and made corpus_clean_pipeline recompute the signature
stage per CTE reference (18 s vs 2.3 s at sf0.1, mid-bench).

Kinds (how the build's DataFrame is materialized):

- ``spread``: a table scan, repartitioned to ``defaultParallelism`` when
  it has fewer files than cores. The single-row-group parquet at these
  SFs arrives as ONE partition, and per-row hash/signature compute is
  CPU-bound; a 100TB scan already has thousands of splits and skips the
  shuffle. :func:`spread` stages one per table.
- ``view``: registered lazily; nothing is computed.
- ``persist``: computed once and joined many times (Spark re-evaluates
  view and CTE references).
- ``checkpoint``: ``localCheckpoint(eager=True)``, for deep iterative
  chains and multi-reference frames. Plain persist relies on Spark 4.1's
  best-effort cache matching when the plan is re-resolved through nested
  temp views, and for a K-level chain that matching MISSES: every
  consumer replays the whole ancestor tree, growing ~4.5x per level
  (measured at sf0.1 on the BPE merge levels: best6 4.2 s, COUNT(*) over
  the 31-row final vocabulary 18 s, the vocabulary consumers 45-50 s per
  query). The checkpoint materializes the partitions and REPLACES the
  logical plan with the computed RDD, so each level and every consumer
  starts from rows, not lineage. Cluster note: it trades the staging's
  fault tolerance for this truncation (an executor loss means re-running
  the stage), the same trade Spark's own iterative MLlib jobs make.

Lifetime. A ``stage()`` call made while another entry is being built
(a hit or a build) makes the called entry a *parent* of the one being
built; nobody keeps a hand list. :func:`release` marks entries dead, but
a released parent stays materialized while any live child whose plan
still holds its lineage (every kind but ``checkpoint``) exists. It is
freed when the last such child goes. Freeing a persisted parent under a
live child makes Spark recompile the child's cached plan without the
parent's InMemoryRelation, and every later reference replays the full
lineage: round 11 measured dedup_rate_by_source at 2.7 s -> 172 s
isolated, 363 s in the full bench, when the minhash shingles/signatures
were freed under the persisted verified pairs. A checkpoint child reads
rows, so it does not pin its parents.

Each read (hit or build) is recorded under the calling thread's query
tag (:func:`tagged`): a harness derives release points from the read
sets, and ``rebuilt_after_release`` counts entries read again after
their release, so a stale release record shows up as a number. Freeing
nudges both GCs: the JVM frees persisted and checkpointed blocks through
the async ContextCleaner only after the Python references die, and
without the nudge the dead blocks piled up into one 10-190 s cleanup
storm on whichever unrelated query ran next.

A reentrant lock guards the registry; concurrent ``stage()`` calls for
one key build it once (the others wait for the building thread).
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import itertools
import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

KINDS = ("spread", "view", "persist", "checkpoint")


class Staged(str):
    """A staging's temp-view name; ``.frame`` is its materialized
    DataFrame (the persisted or checkpointed object itself — reading a
    persisted frame back through ``spark.table`` can miss Spark 4.1's
    cache matching)."""

    frame: DataFrame | None


class _Entry:
    def __init__(self, key: tuple[str, str], kind: str):
        self.key = key
        self.kind = kind
        self.value: Staged | None = None
        self.parents: set[_Entry] = set()
        self.children: set[_Entry] = set()
        self.released = False
        self.ready = threading.Event()


class _Session:
    def __init__(self):
        self.entries: dict[tuple[str, str], _Entry] = {}
        self.freed: set[tuple[str, str]] = set()  # released and freed keys


class _Registry:
    def __init__(self):
        self._lock = threading.RLock()
        # values hold DataFrames of their key, so a session with live
        # entries stays alive; clear() lets it go
        self._sessions: weakref.WeakKeyDictionary[SparkSession, _Session] = (
            weakref.WeakKeyDictionary()
        )
        self._local = threading.local()
        self._anon = itertools.count()
        self.reads: dict[str, set[str]] = {}  # query tag -> names it read
        self.rebuilt_after_release = 0

    def _stack(self) -> list[_Entry]:
        if not hasattr(self._local, "building"):
            self._local.building = []
        return self._local.building

    def stage(self, spark: SparkSession, sf_dir: str | None, name: str | None, build, kind: str) -> Staged:
        """The staging ``name`` of ``sf_dir`` in this session, built by
        ``build()`` (a DataFrame) and materialized per ``kind`` on first
        use. ``name=None`` stages a private entry that is never shared
        (the operator APIs, which have no dataset key)."""
        if kind not in KINDS:
            raise ValueError(f"kind must be one of {KINDS}, got {kind!r}")
        if name is None:
            name = f"anon{next(self._anon)}"
        key = (os.path.abspath(sf_dir) if sf_dir else "", name)
        stack = self._stack()
        while True:
            with self._lock:
                state = self._sessions.setdefault(spark, _Session())
                e = state.entries.get(key)
                mine = e is None
                if mine:
                    e = state.entries[key] = _Entry(key, kind)
                if key in state.freed or e.released:
                    state.freed.discard(key)
                    e.released = False
                    self.rebuilt_after_release += 1
                tag = getattr(self._local, "tag", None)
                if tag is not None:
                    self.reads.setdefault(tag, set()).add(name)
                if stack:
                    stack[-1].parents.add(e)
                    e.children.add(stack[-1])
            if mine:
                break
            e.ready.wait()
            if e.value is not None:
                return e.value
            # the other thread's build failed: try again as the building thread
        stack.append(e)
        try:
            e.value = _materialize(spark, key, kind, build())
        except BaseException:
            with self._lock:
                if state.entries.get(key) is e:
                    del state.entries[key]
                _unlink(e)
            raise
        finally:
            stack.pop()
            e.ready.set()
        return e.value

    @contextlib.contextmanager
    def tagged(self, tag: str):
        """Record the stagings this thread reads under ``tag``."""
        self._local.tag = tag
        try:
            yield
        finally:
            self._local.tag = None

    def release(self, spark: SparkSession, sf_dir: str, *names: str) -> None:
        """Mark the named entries dead; each is freed now, or when its
        last lineage-holding child goes."""
        freed = False
        with self._lock:
            state = self._sessions.get(spark)
            for name in names if state else ():
                e = state.entries.get((os.path.abspath(sf_dir), name))
                if e is not None and e.value is not None:
                    e.released = True
                    freed |= self._try_free(spark, state, e)
        if freed:
            _collect(spark)

    def _try_free(self, spark: SparkSession, state: _Session, e: _Entry) -> bool:
        if (
            not e.released
            or state.entries.get(e.key) is not e  # freed already, through another child
            or any(c.kind != "checkpoint" for c in e.children)
        ):
            return False
        _free(spark, e)
        del state.entries[e.key]
        state.freed.add(e.key)
        parents = list(e.parents)
        _unlink(e)
        for p in parents:
            self._try_free(spark, state, p)
        return True

    def clear(self) -> None:
        """Free every entry of every session; the next ``stage()`` of any
        key rebuilds."""
        with self._lock:
            for spark, state in list(self._sessions.items()):
                for e in state.entries.values():
                    if e.value is not None:
                        _free(spark, e)
            self._sessions.clear()

    def live(self, spark: SparkSession, sf_dir: str) -> dict[str, Staged]:
        """The materialized entries of ``sf_dir`` in this session, by name."""
        key_dir = os.path.abspath(sf_dir)
        with self._lock:
            state = self._sessions.get(spark) or _Session()
            return {n: e.value for (d, n), e in state.entries.items() if d == key_dir and e.value is not None}


def _materialize(spark: SparkSession, key: tuple[str, str], kind: str, df: DataFrame) -> Staged:
    if kind == "spread":
        n = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < n:
            df = df.repartition(n)
    elif kind == "persist" and not df.is_cached:  # a build may persist eagerly itself
        df = df.persist()
    elif kind == "checkpoint":
        df = df.localCheckpoint(eager=True)
    view = Staged(f"{key[1]}_{hashlib.md5(key[0].encode()).hexdigest()[:8]}")
    df.createOrReplaceTempView(view)
    view.frame = df
    return view


def _free(spark: SparkSession, e: _Entry) -> None:
    if e.kind == "persist":
        e.value.frame.unpersist(False)
    spark.catalog.dropTempView(e.value)
    e.value.frame = None


def _unlink(e: _Entry) -> None:
    for p in e.parents:
        p.children.discard(e)
    for c in e.children:
        c.parents.discard(e)
    e.parents.clear()
    e.children.clear()


def _collect(spark: SparkSession) -> None:
    gc.collect()
    spark._jvm.System.gc()  # concurrent cycle (ExplicitGCInvokesConcurrent)


REGISTRY = _Registry()
stage = REGISTRY.stage
release = REGISTRY.release
clear = REGISTRY.clear
tagged = REGISTRY.tagged
live = REGISTRY.live


def spread(spark: SparkSession, sf_dir: str, table: str) -> Staged:
    """The session's spread scan of ``table`` (kind ``spread``)."""
    from .session import load_tables

    return stage(
        spark, sf_dir, f"{table}_spread", lambda: load_tables(spark, sf_dir, (table,))[table], "spread"
    )


def reset(spark: SparkSession) -> None:
    """Cold start for a harness: free every staging, drop the session's
    whole cache, and collect both heaps so the blocks free now. Without
    the collect the dead blocks piled up and cold repeats degraded
    (measured: minhash cold repeats 4.1 -> 5.5 -> 18.5 s; with it they
    stayed flat at ~2 s)."""
    clear()
    spark.catalog.clearCache()
    _collect(spark)
