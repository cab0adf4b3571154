"""The lakehouse's single optimistic-commit primitive
(operators/lakehouse.py ``_commit``) seen from its ten public faces:

* an exact Spark job-count table per face, so a refactor of the commit
  path that adds (or drops) a job fails the default tier without any
  wall-time noise;
* the cleanup contract: a raising ``before_commit`` hook leaves no
  unreferenced staging directory and publishes nothing;
* a structural check that no face publishes a manifest or raises
  MergeConflictError outside the primitive, so a new face cannot bring
  back a hand-rolled retry loop that skips the cleanup and the hook.

Every case builds its own tiny table, so the whole file costs seconds,
not minutes, of the default tier."""

from __future__ import annotations

import ast
import os
import re

import pytest

from assignment4_spark.operators import lakehouse as lh

from .commit_faces import (
    STAGING_FACES,
    hooked_face,
    key_batch,
    seed_table,
    table_batch,
    unreferenced_staging,
)


@pytest.mark.parametrize("face", STAGING_FACES)
def test_raising_before_commit_leaves_no_staging(spark, tmp_path, face):
    """An exception out of before_commit is an exit without a publish:
    the attempt's staging must go with it (vacuum sweeps orphans only
    when orphan_grace_seconds is set, so a leak here is forever), and
    the table's head must not move."""
    base, run = hooked_face(spark, tmp_path, face)
    head = lh.latest_version(base)
    calls = []

    class Boom(RuntimeError):
        pass

    def boom(attempt):
        calls.append(attempt)
        staged = [
            d for d in os.listdir(base)
            if re.match(r"[a-z]+_v\d+_", d) and f"_v{head + 1}_" in d
        ]
        assert staged, "the hook must run after the attempt staged files"
        raise Boom("hook failed")

    with pytest.raises(Boom):
        run(boom, 5)
    assert calls == [0], "a raising hook is not a lost race: no retry"
    assert lh.latest_version(base) == head
    assert unreferenced_staging(base) == []


# ---------------------------------------------------------------------------
# job-count gate: each of the ten faces once, in a fixed order, on one
# seeded table; counts measured before the commit loops were unified
# ---------------------------------------------------------------------------

EXPECTED_JOBS = {
    "merge_upsert_manifest": 3,
    "delete_keys_mor": 3,
    "delete_keys_mor_2": 3,
    "replace_where_range": 6,
    "delete_keys_dv": 7,
    "optimize_compact": 3,
    "compact_tombstones": 7,
    "drop_column": 0,
    "rebucket_table": 3,
    "restore_table": 0,
    "publish_from": 0,
}


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the asynchronous listener bus: drain
    # it, or the face's last jobs may not be registered yet
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_faces_job_counts(spark, tmp_path):
    """Exact Spark job count of every commit face on a seeded 40-row,
    4-bucket table (deterministic: counts, unlike wall time, do not
    move with the shared machine's load)."""
    base = seed_table(spark, tmp_path, n=40, n_buckets=4, tombstones=True)
    branch = str(tmp_path / "branch")
    lh.clone_table(base, branch)
    tag = f"jobs-{os.getpid()}-{id(tmp_path)}"
    # the replace carries an empty batch: with batch rows it runs a
    # limit-5 key-clash probe over a broadcast of the batch's distinct
    # keys, whose job count under AQE varied from run to run (10 or 11
    # with identical inputs)
    faces = [
        ("merge_upsert_manifest", lambda: lh.merge_upsert_manifest(
            base,
            table_batch(spark, base, [1, 2, 3, 50], 2, "m", deleted=(3,)),
            "ver", "payload", write_salt=4,
        )),
        ("delete_keys_mor", lambda: lh.delete_keys_mor(
            spark, base, key_batch(spark, [5, 9])
        )),
        ("delete_keys_mor_2", lambda: lh.delete_keys_mor(
            spark, base, key_batch(spark, [13, 17])
        )),
        ("replace_where_range", lambda: lh.replace_where_range(
            spark, base, "k", 30, 33, table_batch(spark, base, [], 3, "rw"),
        )),
        ("delete_keys_dv", lambda: lh.delete_keys_dv(
            spark, base, key_batch(spark, [6, 10])
        )),
        ("optimize_compact", lambda: lh.optimize_compact(spark, base)),
        ("compact_tombstones", lambda: lh.compact_tombstones(spark, base)),
        ("drop_column", lambda: lh.drop_column(base, "note")),
        ("rebucket_table", lambda: lh.rebucket_table(spark, base, 3)),
        ("restore_table", lambda: lh.restore_table(base, 2)),
        ("publish_from", lambda: lh.publish_from(base, branch)),
    ]
    got = {}
    for name, fn in faces:
        head = lh.latest_version(base)
        got[name] = _count_jobs(spark, f"{tag}-{name}", fn)
        assert lh.latest_version(base) == head + 1, f"{name} must commit"
    assert got == EXPECTED_JOBS, f"measured {got}"


# ---------------------------------------------------------------------------
# structure: one publish site and one conflict raise for every face
# ---------------------------------------------------------------------------


def test_single_commit_loop_structure():
    """``_publish_manifest`` is called only from init_table, clone_table
    and _commit, and ``MergeConflictError`` is raised in exactly one
    place: every retrying face goes through the one primitive."""
    tree = ast.parse(open(lh.__file__).read())
    publish_callers = []
    raises = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "_publish_manifest"
            ):
                publish_callers.append(fn.name)
            if (
                isinstance(node, ast.Raise)
                and isinstance(node.exc, ast.Call)
                and isinstance(node.exc.func, ast.Name)
                and node.exc.func.id == "MergeConflictError"
            ):
                raises.append(fn.name)
    assert sorted(publish_callers) == ["_commit", "clone_table", "init_table"]
    assert raises == ["_commit"]
