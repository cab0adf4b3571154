"""``lakehouse``: the commit path and the read path of the manifest table.

An orders-like table (k, ver, status, price, cust, ts, _deleted) is
clustered on ``ts`` with a Bloom index on ``cust``. One cycle of the mix
is five commits — a merge carrying inserts, updates and tombstones, a DV
delete, an equality (MOR) delete, a REPLACE WHERE and
``optimize_compact`` — with eleven reads between them: two point reads,
two point misses, a narrow range read, three narrow where reads, two
reads of the previous version and the change feed over the whole
history. ``vacuum`` runs after the loop, traced but not timed. Every
result is checked against ``model.TableModel``. After each point, range
and where read, outside its timed region, the benchmark loads the
manifest and prunes its files the way the read did, to trace the
manifest and pruning layers.
"""

from __future__ import annotations

import os

import gen
from model import TableModel

N_ROWS = 5_000
N_BUCKETS = 4
UPSERT_ROWS = 250
TOMBSTONE_FRAC = 0.1
DELETE_KEYS = 50
REPLACE_WIDTH_KEYS = 50
REPLACE_ROWS = 25

# Commits cost 1-8 s each, reads 0.3-1.6 s. Every run pays a JVM start,
# so one cycle holds each commit kind once and repeats the cheaper reads.
CYCLE = ("upsert", "point", "where", "old", "delete_dv", "range", "miss", "point", "old",
         "delete_mor", "where", "replace_where", "where", "miss", "optimize_compact", "cdf")
MAINTAIN = ("optimize_compact",)
READS = ("point", "miss", "range", "where", "old", "cdf")


def _files(base: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(base):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _bloom_positions(spark, value, manifest):
    """A point probe's Bloom bit positions, from the engine's own helper
    (it hashes in Spark at the column's recorded type). None when the
    engine has no such helper; the point read's pruning then goes
    unrecorded."""
    from assignment4_spark.operators import lakehouse

    fn = getattr(lakehouse, "_bloom_positions", None)
    col = manifest.get("bloom_col")
    if fn is None or col is None:
        return None
    return fn(spark, value, manifest["column_types"][col], manifest["bloom_m"], manifest["bloom_k"])


def fingerprint_df(df):
    """(count, sum of row CRC-32s) computed by Spark — the twin of
    ``model.fingerprint``."""
    from pyspark.sql import functions as F

    line = F.concat_ws("|", "k", "ver", "status",
                       F.round(F.col("price") * 100, 0).cast("bigint"), "cust", "ts")
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(F.sum(F.crc32(line)), F.lit(0)).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"])


class Table:
    """The table under test, its model, and the functions that make its ops."""

    def __init__(self, ctx, api):
        self.spark, self.api, self.seed, self.bench = ctx.spark, api, ctx.seed, ctx.bench
        self.base = os.path.join(ctx.tmp, "tables", "orders")
        self.model = TableModel()
        self.version = 0
        self.next_key = N_ROWS
        self.submitted_bytes = 0
        self.created_bytes = 0
        self.rewritten_bytes = 0
        self.attempts = 0
        self.files_deleted = 0
        self.kept_files = self.seen_files = 0
        self.rows_returned = 0
        self._listing: dict[str, int] = {}

    def df(self, rows):
        return self.spark.createDataFrame(rows, gen.ORDER_DDL)

    def init(self) -> None:
        rows = gen.initial_orders(self.seed, N_ROWS)
        self.api.init_table(self.df(rows), self.base, key_col="k", n_buckets=N_BUCKETS,
                            cluster_col="ts", bloom_col="cust")
        self.model.upsert(rows)
        self.version = 1
        self.model.commit(1)
        self._listing = _files(self.base)

    def op(self, i: int):
        kind = CYCLE[i % len(CYCLE)]
        return self.read_op(i, kind) if kind in READS else self.commit_op(i, kind)

    # ---------------------------------------------------------- commits
    def commit_op(self, i: int, kind: str):
        """(kind, timed_fn, check_fn) for commit op ``i``."""
        api, spark, base, seed, call = self.api, self.spark, self.base, self.seed, self.bench.call
        ver = self.version + 1
        layer = "lakehouse.maintain" if kind in MAINTAIN else "lakehouse.commit"
        apply_model = None
        if kind.startswith("upsert"):
            rows, self.next_key = gen.upsert_batch(
                seed, i, ver, self.next_key, UPSERT_ROWS,
                tombstone_frac=TOMBSTONE_FRAC)
            df, logical = self.df(rows), gen.logical_bytes(rows)
            timed = lambda: call(layer, api.merge_upsert_manifest, base, df, "ver", "status",  # noqa: E731
                                 writer_id="bench")
            apply_model = lambda: self.model.upsert(rows)  # noqa: E731
        elif kind.startswith("delete"):
            keys = gen.delete_keys(seed, i, self.next_key, DELETE_KEYS)
            df, logical = spark.createDataFrame([(k,) for k in keys], "k bigint"), 8 * len(keys)
            fn = api.delete_keys_dv if kind == "delete_dv" else api.delete_keys_mor
            timed = lambda: call(layer, fn, spark, base, df, writer_id="bench")  # noqa: E731
            apply_model = lambda: self.model.delete(keys)  # noqa: E731
        elif kind == "replace_where":
            lo, hi, rows, self.next_key = gen.replace_slice(
                seed, i, ver, self.next_key, REPLACE_WIDTH_KEYS, REPLACE_ROWS)
            df, logical = self.df(rows), gen.logical_bytes(rows)
            timed = lambda: call(layer, api.replace_where_range, spark, base, "ts", lo, hi, df,  # noqa: E731
                                 writer_id="bench")
            apply_model = lambda: self.model.replace_where_ts(lo, hi, rows)  # noqa: E731
        else:
            fn = getattr(api, kind)
            logical = 0
            timed = lambda: call(layer, fn, spark, base, writer_id="bench")  # noqa: E731

        def check(res) -> bool:
            new_version = api.latest_version(base)
            if isinstance(res, dict):  # maintenance: may find nothing to do
                ok = res.get("version", new_version) == new_version and new_version in (ver - 1, ver)
            else:
                committed, tries = res
                self.attempts += tries
                ok = committed == ver == new_version
            if apply_model is not None:
                apply_model()
            if new_version > self.version:
                self.version = new_version
                self.model.commit(new_version)
            listing = _files(base)
            created = sum(s for p, s in listing.items() if p not in self._listing)
            self._listing = listing
            if layer == "lakehouse.commit":
                self.created_bytes += created
                self.submitted_bytes += logical
            else:
                self.rewritten_bytes += created
            return ok

        return kind, timed, check

    # ------------------------------------------------------------ reads
    def _plan(self, prune, *args) -> None:
        """Load the manifest and prune its files the way the read just
        did. Called after the timed read, so it neither adds to the
        read's latency nor warms anything for it; traced as its own
        layers."""
        manifest = self.bench.call("lakehouse.manifest", self.api.load_manifest, self.base)
        if prune is None:  # a point read: probe the per-file Bloom filters
            positions = _bloom_positions(self.spark, args[0], manifest)
            if positions is None:
                return
            prune, args = self.api.prune_files_by_bloom, (positions,)
        kept, skipped = self.bench.call("lakehouse.prune", prune, manifest, *args)
        self.kept_files += len(kept)
        self.seen_files += len(kept) + len(skipped)

    def _read(self, df_fn):
        def run():
            fp = fingerprint_df(df_fn())
            self.rows_returned += fp[0]
            return fp
        return self.bench.call("lakehouse.read", run)

    def read_op(self, i: int, kind: str):
        """(kind, timed_fn, check_fn) for read op ``i``, checked against
        the model as of the last commit."""
        api, spark, base, call, m = self.api, self.spark, self.base, self.bench.call, self.model
        p = gen.read_op(self.seed, i, kind, self.next_key, sorted(m.versions))
        if kind in ("point", "miss"):
            v = p["value"]

            def check(res):
                self._plan(None, v)
                return res == m.point(v)
            return (kind, lambda: self._read(
                lambda: api.read_snapshot_point(spark, base, v)), check)
        if kind == "range":
            lo, hi = p["lo"], p["hi"]

            def check(res):
                self._plan(api.prune_files_by_range, lo, hi)
                return res == m.ts_range(lo, hi)
            return (kind, lambda: self._read(
                lambda: api.read_snapshot_range(spark, base, lo, hi)), check)
        if kind == "where":
            lo, hi = p["lo"], p["hi"]

            def check(res):
                self._plan(api.prune_files_by_column, "price", lo, hi)
                return res == m.price_range(lo, hi)
            return (kind, lambda: self._read(
                lambda: api.read_snapshot_where(spark, base, "price", lo, hi)), check)
        if kind == "old":
            v = p["version"]

            def timed():
                history = call("lakehouse.manifest", api.table_history, base)
                stamp = next(h["committed_at"] for h in history if h["version"] == v)
                pinned = call("lakehouse.manifest", api.version_as_of, base, stamp)
                return pinned, self._read(lambda: api.read_snapshot(spark, base, version=pinned))
            return kind, timed, lambda res: res == (v, m.snapshot(v))
        v_from, v_to = p["v_from"], p["v_to"]

        def cdf():
            out = api.cdf_deltas(api.changes_between(spark, base, v_from, v_to)).collect()
            self.rows_returned += len(out)
            return {r["status"]: (int(r["dn"]), int(r["dcents"])) for r in out}
        return (kind, lambda: call("lakehouse.read", cdf),
                lambda res: res == m.cdf_deltas(v_from, v_to))

    def check_snapshot(self, version: int | None = None) -> bool:
        got = fingerprint_df(self.api.read_snapshot(self.spark, self.base, version=version))
        return got == self.model.snapshot(version)

    def disk_bytes(self) -> int:
        return sum(_files(self.base).values())


def setup(ctx) -> Table:
    from assignment4_spark import api

    t = Table(ctx, api)
    t.init()
    return t


def run(ctx, t: Table) -> dict:
    b = ctx.bench
    b.run(t.op, len(CYCLE))
    # one pinned older version, before vacuum expires it
    b.verify("snapshot v2", lambda: t.check_snapshot(2))
    res = b.extra("vacuum", "lakehouse.maintain", t.api.vacuum, t.base, keep_last=2)
    t.files_deleted += int(res["deleted_files"]) if res else 0
    b.verify("latest snapshot", lambda: t.check_snapshot(None))
    live = gen.logical_bytes([r + (False,) for r in t.model.rows.values()])
    return {
        "lakehouse.commit.write_amp": t.created_bytes / t.submitted_bytes,
        "lakehouse.maintain.space_amp": t.disk_bytes() / live,
        "lakehouse.commit.attempts": t.attempts,
        "lakehouse.commit.bytes_written": t.created_bytes,
        "lakehouse.maintain.bytes_rewritten": t.rewritten_bytes,
        "lakehouse.maintain.files_deleted": t.files_deleted,
        "lakehouse.commit.upsert_p50_s": b.kind_p50("upsert"),
        "lakehouse.commit.delete_dv_p50_s": b.kind_p50("delete_dv"),
        "lakehouse.commit.delete_mor_p50_s": b.kind_p50("delete_mor"),
        "lakehouse.commit.replace_where_p50_s": b.kind_p50("replace_where"),
        "lakehouse.prune.files_kept_frac": t.kept_files / max(1, t.seen_files),
        "lakehouse.read.rows_returned": t.rows_returned,
    }
