"""Session lifetimes (``dwh_spark/session.py``): a persisted slot keeps
its frame cached across repeat runs of the same query, ``session_memo``
builds each key once under concurrent first calls, slots rotate
independently, a scoped conf is restored when its body raises,
``run_parallel`` keeps list order and the caller's job group, scratch
dirs go away with the process, and no module grows a hand-rolled cache,
a bare conf pin or a thread pool of its own again."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import textwrap
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import dwh_spark.plans.all  # noqa: F401
from dwh_spark.plans.registry import QUERIES
from dwh_spark.session import persist_slot, run_parallel, scoped_conf, session_memo
from dwh_spark.sources.catalog import load_table

from tests.conftest import SF_SMALL, n_jobs

REPO = pathlib.Path(__file__).resolve().parent.parent


def _n_persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_stalest_topk_repeat_runs_keep_the_aggregate_cached(spark):
    # the frame events_stalest_topk persists, rebuilt here: Spark's cache
    # lookup is by plan, so its storage level is the slot frame's
    last_seen = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
    )
    counts = []
    for _ in range(3):
        QUERIES["events_stalest_topk"](spark, SF_SMALL).collect()
        assert last_seen.storageLevel != StorageLevel.NONE
        counts.append(_n_persistent_rdds(spark))
    assert counts[1] <= counts[0] and counts[2] <= counts[0]


def test_train_semantic_cells_repeat_call_keeps_centroids_cached(spark):
    from dwh_spark.operators.similarity import train_semantic_cells

    emb = load_table(spark, SF_SMALL, "embeddings")
    counts = []
    for _ in range(2):
        centroids, _ = train_semantic_cells(emb, rows_per_cell=64, n_iter=1)
        assert centroids.storageLevel != StorageLevel.NONE
        counts.append(_n_persistent_rdds(spark))
    assert counts[1] <= counts[0]


def test_session_memo_builds_each_key_once_under_threads(spark):
    keys = [("test.memo", uuid.uuid4().hex) for _ in range(3)]
    builds = {k: 0 for k in keys}
    lock = threading.Lock()

    def build(k):
        with lock:
            builds[k] += 1
        time.sleep(0.01)  # widen the window between check and store
        return object()

    def worker(i):
        order = keys[i % 3:] + keys[: i % 3]  # threads race on every key
        return {k: session_memo(spark, k, lambda k=k: build(k)) for k in order}

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [pool.submit(worker, i) for i in range(6)]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert builds == {k: 1 for k in keys}
    assert all(len({id(r[k]) for r in results}) == 1 for k in keys)


def test_filling_one_slot_leaves_other_slots_persisted(spark):
    tag = uuid.uuid4().hex
    a_name, b_name = f"test.a.{tag}", f"test.b.{tag}"
    n = 1000 + uuid.uuid4().int % 1000  # plans no other test caches
    a1 = persist_slot(a_name, lambda: spark.range(n).withColumn("s", F.lit("a1")))
    b = persist_slot(b_name, lambda: spark.range(n).withColumn("s", F.lit("b")))
    a1.count(), b.count()
    a2 = persist_slot(a_name, lambda: spark.range(n).withColumn("s", F.lit("a2")))
    try:
        assert a1.storageLevel == StorageLevel.NONE  # rotated out
        assert a2.storageLevel != StorageLevel.NONE
        assert b.storageLevel != StorageLevel.NONE
    finally:
        a2.unpersist()
        b.unpersist()


def test_scoped_conf_restores_the_session_value_when_the_body_raises(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, key, "3"):
            assert spark.conf.get(key) == "3"
            1 / 0
    assert spark.conf.get(key) == before


def test_scoped_conf_unsets_a_key_the_session_had_not_set(spark):
    key = f"dwh.test.scoped.{uuid.uuid4().hex}"
    with scoped_conf(spark, key, "on"):
        assert spark.conf.get(key) == "on"
    assert spark.conf.get(key, None) is None


def test_run_parallel_returns_results_in_list_order(spark):
    # the first fn ends last, so completion order is the reverse
    fns = [lambda i=i: (time.sleep(0.05 * (3 - i)), i)[1] for i in range(4)]
    assert run_parallel(spark, fns) == [0, 1, 2, 3]


def test_run_parallel_raises_the_first_error_after_every_fn_ends(spark):
    finished = []

    def fail(message):
        raise ValueError(message)

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    with pytest.raises(ValueError, match="first"):
        run_parallel(spark, [slow, lambda: fail("first"), lambda: fail("second")])
    assert finished == ["slow"]


def test_run_parallel_jobs_keep_the_callers_job_group(spark):
    sc = spark.sparkContext
    group = f"test.run_parallel.{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run_parallel(
            spark, [lambda: sc.parallelize(range(8), 2).count() for _ in range(4)]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs(spark, group) == 4


def test_run_parallel_without_a_pool_runs_on_the_callers_thread(spark):
    caller = threading.get_ident()
    assert run_parallel(spark, [threading.get_ident]) == [caller]
    one_core = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=1))
    assert run_parallel(one_core, [threading.get_ident] * 3) == [caller] * 3
    assert run_parallel(spark, []) == []


# Module-level empty containers that are not per-query caches: the
# kept memos (matched by sameSemantics, or holding only Column and
# schema values), the query registry and the decoder registries.
_ALLOWED_GLOBALS = {
    ("dwh_spark/plans/streaming.py", "_NTILE_STAGE_CACHE"),
    ("dwh_spark/operators/transitions.py", "_EXPR_CACHE"),
    ("dwh_spark/sources/catalog.py", "_schema_memo"),
    ("dwh_spark/plans/registry.py", "QUERIES"),
    ("dwh_spark/plans/registry.py", "ORACLES"),
    ("dwh_spark/multimodal/registry.py", "_image_decoders"),
    ("dwh_spark/multimodal/registry.py", "_video_decoders"),
    ("dwh_spark/multimodal/registry.py", "_audio_decoders"),
}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        func = node.func
        name = func.id if isinstance(func, ast.Name) else (
            func.attr if isinstance(func, ast.Attribute) else None
        )
        return name in ("dict", "list", "OrderedDict")
    return False


def test_no_new_module_level_caches():
    """A per-query cache goes through persist_slot or session_memo
    (dwh_spark/session.py), not a new module-level dict or list."""
    found = set()
    for path in sorted((REPO / "dwh_spark").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            if _is_empty_container(value):
                found |= {(rel, ast.unparse(t)) for t in targets}
    assert found - _ALLOWED_GLOBALS == set()


def _is_doc_id_scan(node: ast.AST) -> bool:
    """``load_table(..., "documents")[...].select("doc_id")``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "select"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "doc_id"
    ):
        return False
    recv = node.func.value
    while isinstance(recv, ast.Call) and isinstance(recv.func, ast.Attribute):
        recv = recv.func.value
    return (
        isinstance(recv, ast.Call)
        and isinstance(recv.func, ast.Name)
        and recv.func.id == "load_table"
        and any(
            isinstance(a, ast.Constant) and a.value == "documents" for a in recv.args
        )
    )


def test_no_inline_media_synthesis_in_plans():
    """Plans synthesize media through dwh_spark/sources/media_fixtures.py
    (doc_ids, synthesize, md5_clip, md5_grid): no local gen/clip/win/grid
    function and no hand-rolled doc-id scan of ``documents``."""
    found = []
    for path in sorted((REPO / "dwh_spark" / "plans").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef) and node.name in {
                "gen", "clip", "win", "grid",
            }:
                found.append(f"{rel}:{node.lineno} def {node.name}")
            elif _is_doc_id_scan(node):
                found.append(f"{rel}:{node.lineno} doc-id scan")
    assert found == []


def test_no_bare_conf_pins_in_plans():
    """Plans override a session conf through scoped_conf
    (dwh_spark/session.py), which restores it even when the query
    fails: no ``<session>.conf.set(...)`` under dwh_spark/plans/."""
    found = []
    for path in sorted((REPO / "dwh_spark" / "plans").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            func = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(func, ast.Attribute)
                and func.attr == "set"
                and isinstance(func.value, ast.Attribute)
                and func.value.attr == "conf"
            ):
                found.append(f"{rel}:{node.lineno} {ast.unparse(func)}")
    assert found == []


def _thread_pool_uses(tree: ast.AST) -> list[tuple[int, str]]:
    """Imports or uses of ``concurrent.futures`` and its executors, and
    ``threading.Thread`` calls or imports, in one module's syntax tree."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names if a.name.startswith("concurrent")]
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            names = [
                f"{mod}.{a.name}"
                for a in node.names
                if mod.startswith("concurrent")
                or (mod == "threading" and a.name == "Thread")
            ]
        elif isinstance(node, (ast.Name, ast.Attribute)):
            name = node.id if isinstance(node, ast.Name) else node.attr
            names = [name] if name.endswith("PoolExecutor") else []
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "Thread"
                and isinstance(node.value, ast.Name)
                and node.value.id == "threading"
            ):
                names.append("threading.Thread")
        else:
            continue
        found += [(node.lineno, n) for n in names]
    return found


def test_no_thread_pools_outside_session():
    """Independent Spark jobs run through run_parallel
    (dwh_spark/session.py), which sizes its pool from the session and
    carries the caller's job group into every job: no other module
    under dwh_spark/ imports concurrent.futures, names an executor or
    starts a threading.Thread."""
    found = []
    for path in sorted((REPO / "dwh_spark").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        if rel != "dwh_spark/session.py":
            found += [
                f"{rel}:{line} {name}"
                for line, name in _thread_pool_uses(ast.parse(path.read_text()))
            ]
    assert found == []


def test_thread_pool_guard_flags_each_form():
    planted = textwrap.dedent(
        """
        import concurrent.futures
        from concurrent.futures import ThreadPoolExecutor
        from threading import Thread
        import threading
        pool = concurrent.futures.ThreadPoolExecutor(2)
        threading.Thread(target=print).start()
        lock = threading.Lock()
        """
    )
    assert sorted(_thread_pool_uses(ast.parse(planted))) == [
        (2, "concurrent.futures"),
        (3, "concurrent.futures.ThreadPoolExecutor"),
        (4, "threading.Thread"),
        (6, "ThreadPoolExecutor"),
        (7, "threading.Thread"),
    ]


def test_scratch_dirs_are_removed_when_the_process_exits(tmp_path):
    script = textwrap.dedent(
        f"""
        import os
        from dwh_spark.plans.events import _partitioned_events
        from dwh_spark.plans.registry import QUERIES
        from dwh_spark.session import get_spark

        spark = get_spark("scratch-exit", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")
        QUERIES["events_partition_pruned_rollup"](spark, {SF_SMALL!r}).collect()
        path = _partitioned_events(spark, {SF_SMALL!r})
        assert os.path.isdir(path), path
        print("LAYOUT", path)
        """
    )
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    path = next(
        line.split(" ", 1)[1] for line in proc.stdout.splitlines()
        if line.startswith("LAYOUT ")
    )
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)
    left = [
        e for e in os.listdir(tmp_path) if e.startswith(("dwh_", "events_by_day_"))
    ]
    assert left == []
