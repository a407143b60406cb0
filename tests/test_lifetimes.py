"""Session lifetimes (``dwh_spark/session.py``): a persisted slot keeps
its frame cached across repeat runs of the same query, ``session_memo``
builds each key once under concurrent first calls, slots rotate
independently, scratch dirs go away with the process, and no module
grows a hand-rolled cache again."""

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

from pyspark import StorageLevel
from pyspark.sql import functions as F

import dwh_spark.plans.all  # noqa: F401
from dwh_spark.plans.registry import QUERIES
from dwh_spark.session import persist_slot, session_memo
from dwh_spark.sources.catalog import load_table

from tests.conftest import SF_SMALL

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
