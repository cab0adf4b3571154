"""``analytics``: the engine's paths that make no lakehouse commit.

One cycle of the mix is a pass over the 14 relational ops of
``wl_relational``, then one corpus batch through the four RAG / dedup
stages of ``wl_dedup``. Nothing here touches the
lakehouse, so a change to the commit path must leave this workload
unchanged; and the relational ops, dominated by planning and the
per-job floor, show session-wide settings such as shuffle partitions.
"""

from __future__ import annotations

import time
from types import SimpleNamespace

import wl_dedup
import wl_relational
from common import log

N_REL = len(wl_relational.OPS)
CYCLE_LEN = N_REL + len(wl_dedup.STAGES)


def setup(ctx):
    t0 = time.perf_counter()
    fixture = wl_relational.setup(ctx)
    t1 = time.perf_counter()
    corpus = wl_dedup.setup(ctx)
    log(f"set-up: relational {t1 - t0:.2f} s, dedup {time.perf_counter() - t1:.2f} s")
    return SimpleNamespace(fixture=fixture, corpus=corpus)


def run(ctx, state) -> dict:
    b = ctx.bench
    t0 = time.perf_counter()
    expected = wl_relational.oracle_check(ctx, state.fixture)
    log(f"oracle checks {time.perf_counter() - t0:.2f} s")
    passes = wl_relational.Passes(ctx, state.fixture, expected)

    def make_op(i):
        cycle, j = divmod(i, CYCLE_LEN)
        return passes.op(j) if j < N_REL else state.corpus.op(cycle, j - N_REL)

    b.run(make_op, CYCLE_LEN)
    dedup_s = sum(d for k, d in b.latencies if k in wl_dedup.STAGES)
    return state.corpus.figures(dedup_s)
