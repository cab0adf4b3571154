"""Tiny-table fixtures for the lakehouse commit faces, shared by the
commit-protocol tests (test_commit_protocol.py) and the conflict tests
in test_lakehouse.py."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from assignment4_spark.operators import lakehouse as lh


def seed_table(
    spark, tmp_path, name="t", n=24, n_buckets=2, tombstones=False
):
    base = str(tmp_path / name)
    cols = [
        F.col("id").alias("k"),
        F.lit(1).alias("ver"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
        F.lit("n").alias("note"),
    ]
    if tombstones:
        cols.append(F.lit(False).alias(lh.TOMBSTONE_COL))
    lh.init_table(spark.range(n).select(*cols), base, key_col="k",
                  n_buckets=n_buckets)
    return base


def table_batch(spark, base, keys, ver, tag, deleted=()):
    """Full-row batch in the table's current schema."""
    cols = lh.load_manifest(base)["columns"]
    rows = []
    for k in keys:
        vals = {"k": k, "ver": ver, "payload": f"{tag}{k}", "note": "n",
                lh.TOMBSTONE_COL: k in deleted}
        rows.append(tuple(vals[c] for c in cols))
    types = {"k": "long", "ver": "int", "payload": "string",
             "note": "string", lh.TOMBSTONE_COL: "boolean"}
    return spark.createDataFrame(
        rows, ", ".join(f"`{c}` {types[c]}" for c in cols)
    )


def key_batch(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k long")


def merge(spark, base, keys, ver, tag, **kw):
    return lh.merge_upsert_manifest(
        base, table_batch(spark, base, keys, ver, tag), "ver", "payload", **kw
    )


def _referenced(base):
    """Absolute paths of every file or quarantine dir a manifest on
    disk names."""
    out = set()
    for v in range(1, lh.latest_version(base) + 1):
        try:
            m = lh.load_manifest(base, v)
        except FileNotFoundError:
            continue
        for key in ("buckets", "delete_files", "dv_files"):
            for fs in (m.get(key) or {}).values():
                out.update(os.path.abspath(f) for f in fs)
        q = (m.get("expectations") or {}).get("path")
        if q:
            out.add(os.path.abspath(q))
    return out


def unreferenced_staging(base):
    """Staging directories (vacuum's orphan pattern) holding no file,
    and not being a quarantine dir, that any manifest references."""
    refs = _referenced(base)
    out = []
    for entry in sorted(os.listdir(base)):
        d = os.path.abspath(os.path.join(base, entry))
        if not os.path.isdir(d) or not re.match(r"[a-z]+_v\d+_", entry):
            continue
        if d in refs:
            continue
        if not any(
            os.path.join(root, f) in refs
            for root, _dirs, fnames in os.walk(d)
            for f in fnames
        ):
            out.append(entry)
    return out


# the eight faces that take a before_commit hook, each on its own tiny
# table: _prep_<face>(spark, base, tmp_path) sets the table up and
# returns run(before_commit, max_retries)


def _prep_restore(spark, base, tmp_path):
    merge(spark, base, [1], 2, "r")
    return lambda bc, mr: lh.restore_table(
        base, 1, max_retries=mr, before_commit=bc
    )


def _prep_publish(spark, base, tmp_path):
    branch = str(tmp_path / "branch")
    lh.clone_table(base, branch)
    merge(spark, branch, [1], 2, "b")
    return lambda bc, mr: lh.publish_from(
        base, branch, max_retries=mr, before_commit=bc
    )


def _prep_merge(spark, base, tmp_path):
    return lambda bc, mr: merge(
        spark, base, [3, 100], 2, "m", max_retries=mr, before_commit=bc
    )


def _prep_optimize(spark, base, tmp_path):
    merge(spark, base, list(range(0, 24, 2)), 2, "u", write_salt=4)
    frag = lh.load_manifest(base)["buckets"].values()
    assert any(len(fs) > 1 for fs in frag), "salted merge must fragment"
    return lambda bc, mr: lh.optimize_compact(
        spark, base, max_retries=mr, before_commit=bc
    )


def _prep_mor(spark, base, tmp_path):
    return lambda bc, mr: lh.delete_keys_mor(
        spark, base, key_batch(spark, [4, 5]), max_retries=mr, before_commit=bc
    )


def _prep_replace(spark, base, tmp_path):
    return lambda bc, mr: lh.replace_where_range(
        spark, base, "k", 6, 8, table_batch(spark, base, [6, 7, 8], 3, "rw"),
        max_retries=mr, before_commit=bc,
    )


def _prep_dv(spark, base, tmp_path):
    return lambda bc, mr: lh.delete_keys_dv(
        spark, base, key_batch(spark, [9, 10]), max_retries=mr, before_commit=bc
    )


def _prep_rebucket(spark, base, tmp_path):
    return lambda bc, mr: lh.rebucket_table(
        spark, base, 3, max_retries=mr, before_commit=bc
    )


HOOKED_FACES = {
    "restore": _prep_restore,
    "publish": _prep_publish,
    "merge": _prep_merge,
    "optimize": _prep_optimize,
    "mor": _prep_mor,
    "replace": _prep_replace,
    "dv": _prep_dv,
    "rebucket": _prep_rebucket,
}
STAGING_FACES = ["merge", "optimize", "mor", "replace", "dv", "rebucket"]


def hooked_face(spark, tmp_path, face):
    """(base, run) for one hooked face on a fresh tiny table."""
    base = seed_table(spark, tmp_path, name=face)
    return base, HOOKED_FACES[face](spark, base, tmp_path)


def spoil(base):
    """A competing commit that changes nothing: a metadata-only
    restore of the current head (zero Spark jobs), so the face's next
    attempt re-pins an identical state."""
    lh.restore_table(base, lh.latest_version(base), writer_id="spoiler")
