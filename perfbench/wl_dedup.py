"""The RAG / near-duplicate half of ``analytics``, on a seeded corpus.

One op is one pipeline stage on one corpus batch, in the order
chunk+embed → minhash_lsh_pairs → connected_components → knn_topk; each
cycle of the workload takes a new batch through the four stages.
Checks: chunk counts and unit norms of the embeddings, exact 3-shingle
Jaccard of every returned pair, components against a union-find over
the returned pairs, and top-k neighbours against numpy brute force.
"""

from __future__ import annotations

import numpy as np

import gen

BATCH_DOCS = 300
WARM_DOCS = 30  # the set-up's batch, which compiles every stage's plan
DUP_EVERY = 10  # every 10th document is a near-duplicate
N_QUERIES = 20
TOP_K = 10
CHUNK_SIZE, CHUNK_OVERLAP = 200, 40
STAGES = ("embed", "minhash", "components", "knn")
LAYERS = {"embed": "rag", "minhash": "dedup.minhash", "components": "dedup.cc",
          "knn": "vectors.knn"}
QUERY_ID0 = 10**9  # query ids never collide with corpus ids


def _n_chunks(text: str) -> int:
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    return max(len(text) - CHUNK_OVERLAP - 1, 0) // stride + 1


def _shingles(text: str) -> set[str]:
    w = text.split(" ")
    if len(w) < 3:
        return {text}
    return {f"{a}_{b}_{c}" for a, b, c in zip(w, w[1:], w[2:])}


def _components(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _knn_ok(rows, corpus_ids, corpus_vecs, queries) -> bool:
    """Each query's returned neighbours must be numpy's top-k by cosine
    rounded to 6 dp with the id tie-break; a neighbour may differ only
    where its similarity is within 1e-6 of numpy's (ulp-level rounding
    flips)."""
    c = corpus_vecs.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q = queries.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"] - QUERY_ID0, []).append(r)
    if sorted(got) != list(range(len(queries))):
        return False
    pos = {int(v): j for j, v in enumerate(corpus_ids)}
    for qi, rs in got.items():
        rs.sort(key=lambda r: r["rank"])
        order = np.lexsort((corpus_ids, -np.round(sims[qi], 6)))[:TOP_K]
        if len(rs) != len(order) or [r["rank"] for r in rs] != list(range(1, len(rs) + 1)):
            return False
        for r, j in zip(rs, order):
            mine = sims[qi][pos[int(r["neighbor_id"])]]
            if r["neighbor_id"] != corpus_ids[j] and abs(mine - sims[qi][j]) > 1e-6:
                return False
            if abs(r["sim_r"] - mine) > 1e-6:
                return False
    return True


class Corpus:
    """Vocabulary, queries and running totals of one set-up."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.vocab = gen.vocabulary(ctx.seed)
        self.queries = gen.query_vectors(ctx.seed, N_QUERIES)
        self.queries_df = ctx.spark.createDataFrame(
            [(QUERY_ID0 + i, v.tolist()) for i, v in enumerate(self.queries)],
            "query_id bigint, q_embedding array<float>")
        self.found = self.injected = 0
        self.pairs_out = 0
        self.docs = 0
        self.state: dict = {}

    def batch(self, n: int, n_docs: int = BATCH_DOCS):
        """(docs, injected pairs, DataFrame) of batch ``n``."""
        docs, injected = gen.corpus_batch(self.ctx.seed, n, n_docs, DUP_EVERY, self.vocab)
        return docs, injected, self.ctx.spark.createDataFrame(docs, "doc_id bigint, text string")

    def op(self, cycle: int, j: int):
        """(kind, timed_fn, check_fn) for stage ``j`` of ``cycle``; the
        cycle takes batch ``cycle + 1`` (batch 0 is the set-up's)."""
        from assignment4_spark import api

        b, spark, state = self.ctx.bench, self.ctx.spark, self.state
        fns = _stage_fns(api)
        kind = STAGES[j]
        layer = LAYERS[kind]
        if kind == "embed":
            state["batch"] = self.batch(cycle + 1)
            self.docs += BATCH_DOCS
        docs, injected, docs_df = state["batch"]
        if kind == "embed":
            want = {d: _n_chunks(t) for d, t in docs}

            def check(rows):
                state["vecs"] = rows
                per_doc: dict[int, list[int]] = {}
                for r in rows:
                    per_doc.setdefault(r["doc_id"], []).append(r["chunk_id"])
                norms = np.linalg.norm(np.array([r["embedding"] for r in rows]), axis=1)
                return ({d: sorted(c) for d, c in per_doc.items()}
                        == {d: list(range(n)) for d, n in want.items()}
                        and bool(np.all(np.abs(norms - 1) < 1e-5)))
            return kind, lambda: b.call(layer, fns["embed"], docs_df), check
        if kind == "minhash":
            text = dict(docs)

            def check(rows):
                state["pairs"] = rows
                self.pairs_out += len(rows)
                got = {(r["doc_a"], r["doc_b"]) for r in rows}
                self.injected += len(injected)
                self.found += sum(1 for p in injected if p in got)
                for r in rows:
                    sa, sb = _shingles(text[r["doc_a"]]), _shingles(text[r["doc_b"]])
                    j = len(sa & sb) / len(sa | sb)
                    if not (r["doc_a"] < r["doc_b"] and j >= 0.5 and abs(j - r["jaccard"]) < 1e-6):
                        return False
                return True
            return kind, lambda: b.call(layer, fns["minhash"], docs_df), check
        if kind == "components":
            pairs = [(r["doc_a"], r["doc_b"]) for r in state.get("pairs", [])]
            df = spark.createDataFrame(pairs, "src bigint, dst bigint")
            want = _components(pairs)

            def check(rows):
                return {r["node"]: r["comp_id"] for r in rows} == want
            return kind, lambda: b.call(layer, fns["components"], df), check
        vecs = state.get("vecs", [])
        ids = np.array([r["doc_id"] * 100 + r["chunk_id"] for r in vecs], dtype=np.int64)
        mat = np.array([r["embedding"] for r in vecs], dtype=np.float32)
        df = spark.createDataFrame([(int(v), r["embedding"]) for v, r in zip(ids, vecs)],
                                   "vec_id bigint, embedding array<float>")
        return (kind, lambda: b.call(layer, fns["knn"], df, self.queries_df),
                lambda rows: _knn_ok(rows, ids, mat, self.queries))

    def figures(self, dedup_op_s: float) -> dict:
        return {
            "workload.docs_per_s": self.docs / dedup_op_s,
            "dedup.minhash.dup_recall": self.found / max(1, self.injected),
            "dedup.minhash.pairs_out": self.pairs_out,
        }


def _stage_fns(api):
    def embed(docs_df):
        chunks = api.chunk_text(docs_df, CHUNK_SIZE, CHUNK_OVERLAP)
        return chunks.select("doc_id", "chunk_id",
                             api.hash_embed_udf("chunk_text").alias("embedding")).collect()

    def minhash(docs_df):
        return api.minhash_lsh_pairs(docs_df).collect()

    def components(edges_df):
        return api.connected_components(edges_df).collect()

    def knn(corpus_df, queries_df):
        return api.knn_topk(corpus_df, queries_df, k=TOP_K).collect()

    return {"embed": embed, "minhash": minhash, "components": components, "knn": knn}


def setup(ctx) -> Corpus:
    """Vocabulary and queries, then every stage once over a small batch,
    so the timed batches run compiled plans and started Python workers."""
    from assignment4_spark import api

    corpus = Corpus(ctx)
    fns = _stage_fns(api)
    _, _, docs = corpus.batch(0, WARM_DOCS)
    vecs = fns["embed"](docs)
    pairs = fns["minhash"](docs)
    fns["components"](ctx.spark.createDataFrame(
        [(r["doc_a"], r["doc_b"]) for r in pairs], "src bigint, dst bigint"))
    fns["knn"](ctx.spark.createDataFrame(
        [(r["doc_id"] * 100 + r["chunk_id"], r["embedding"]) for r in vecs],
        "vec_id bigint, embedding array<float>"), corpus.queries_df)
    return corpus
