"""Workload ``corpus_index``: an LLM-data batch feeding a persisted index.

A seeded corpus with planted near-duplicates, junk documents and
clustered embeddings goes through one batch job, first in the session:
the ``operators.text`` quality gate -> ``operators.dedup_text``
near-duplicate pairs -> dedupe -> the survivors staged as a base slice
and stream epoch slices (``sources``) -> a batch of in-session
``operators.retrieval.bm25_topk`` queries, ``operators.similarity``
IVF top-k for the same queries, and ``rrf_fuse`` of the two rankings.

The slices then drive the persisted lexical index through its
lifecycle: a seed ``save_lexical_index`` of the base slice,
``streaming.index_stream.ingest_epoch`` micro-batches, a
``delete_from_index`` half way, a probe batch at the deepest
epoch stack, ``compact_index``, and the probe batch again.

Checks: the gate keeps exactly the clean documents; every verified pair's
Jaccard equals the benchmark's own; every persisted probe is row-identical
to the in-session ``bm25_topk`` over the documents that survive dedupe and
the delete; the fused ranking equals reciprocal-rank fusion computed here.
Recalls are measured against the planted pairs and a numpy exact cosine
top-10.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

DOCS = 6000
TINY_DOCS = 400
EPOCHS = 2  # stream epochs above the base slice; each slice holds DOCS / (EPOCHS + 1)
DELETE_AFTER = 1  # the delete lands after this epoch
GATE = 0.85  # quality_score threshold; clean documents score >= 0.88
THRESHOLD = 0.7  # near-duplicate Jaccard threshold
QUERIES = 40  # about this many query documents
K = 10
NPROBE = 1
QT = 8  # query terms: distinct terms among the first QT tokens


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksums and markers."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _rrf(lex: list, ann: list, k: int = K, k_rrf: int = 60) -> list[tuple]:
    """Reciprocal-rank fusion of (query, doc, rank) arms, computed
    independently of the engine; returns sorted (query, rank, doc)."""
    ranks: dict[tuple, list] = {}
    for q, d, r in lex:
        ranks.setdefault((q, d), [None, None])[0] = r
    for q, d, r in ann:
        ranks.setdefault((q, d), [None, None])[1] = r
    by_q: dict[int, list] = {}
    for (q, d), (ra, rb) in ranks.items():
        s = (1.0 / (k_rrf + ra) if ra else 0.0) + (1.0 / (k_rrf + rb) if rb else 0.0)
        by_q.setdefault(q, []).append((-round(s, 6), d))
    return sorted((q, i + 1, d) for q, xs in by_q.items() for i, (_, d) in enumerate(sorted(xs)[:k]))


def _ann_recall(ids: list[int], queries: list[int], vecs, ann: list) -> float:
    """Recall@K against numpy exact cosine top-K over ``ids`` without
    the query itself, as the engine's top-K excludes it."""
    mat = np.stack([vecs[d] for d in ids])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    got: dict[int, set] = {}
    for q, d, _ in ann:
        got.setdefault(q, set()).add(d)
    hits = 0
    for q in queries:
        sims = unit @ (vecs[q] / np.linalg.norm(vecs[q]))
        exact = [ids[i] for i in np.argsort(-sims, kind="stable")[:K + 1] if ids[i] != q][:K]
        hits += len(set(exact) & got.get(q, set()))
    return hits / (K * max(1, len(queries)))


def _rescored(SIM, corpus_emb, queries_emb, centroids) -> int:
    """Candidates the IVF search scores: (query, document) pairs that
    share a cell under the engine's own assignment of both sides."""
    from pyspark.sql import functions as F

    cells = SIM.ivf_assign(corpus_emb, centroids).select(F.col("vec_id").alias("doc"), "centroid_id")
    probes = SIM.ivf_assign(queries_emb, centroids, nprobe=NPROBE).select(
        F.col("vec_id").alias("query"), "centroid_id")
    return cells.join(probes, "centroid_id").filter(F.col("doc") != F.col("query")).count()


def generate(seed: int, tiny: bool) -> gen.Corpus:
    return gen.Corpus(seed, TINY_DOCS if tiny else DOCS)


def run(b, corpus: gen.Corpus):
    from pyspark.sql import functions as F

    from workhop2_etl_spark.operators import dedup_text as DD
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.operators import similarity as SIM
    from workhop2_etl_spark.operators import text as TX
    from workhop2_etl_spark.sources import readers as R
    from workhop2_etl_spark.sources import writers as W
    from workhop2_etl_spark.streaming import index_stream as IS

    spark = b.spark
    texts, vecs = corpus.text_of(), corpus.vector_of()
    src = b.path("in", "docs.parquet")
    os.makedirs(b.path("in"), exist_ok=True)
    stage_s = b.timed_setup(lambda: corpus.write_parquet(src))
    b.inputs = {"docs": len(texts), "planted_pairs": len(corpus.planted),
                "junk_docs": len(corpus.junk), "input_bytes": os.path.getsize(src)}
    gated_dir, stream_dir = b.path("gated"), b.path("stream")
    lex = b.path("lexidx")

    def toks(df):
        return df.select("doc_id", TX.tokens(F.lower(F.col("text"))).alias("toks"))

    def emb(df):
        return df.select(F.col("doc_id").alias("vec_id"), "embedding")

    def ids_frame(ids):
        return F.broadcast(spark.createDataFrame([(d,) for d in ids], "doc_id long"))

    def doomed_of(survivors):
        """The documents the lifecycle deletes: a seventh of those indexed
        before the delete lands."""
        return sorted(d for d in survivors if d % (EPOCHS + 1) <= DELETE_AFTER and d % 7 == 3)

    # -- the batch: gate -> near-dup -> dedupe -> stage -> hybrid retrieval
    def batch():
        with b.span("sources"):
            docs = R.read_parquet(spark, src)
        with b.span("operators.text"):
            W.write_parquet(docs.filter(TX.quality_score(F.col("text")) >= GATE), gated_dir)
        with b.span("operators.dedup_text"):
            gated = R.read_parquet(spark, gated_dir)
            cands = DD.near_dup_pairs(gated, threshold=0.0).select("id_a", "id_b", "jaccard").collect()
        pairs = [(r.id_a, r.id_b, r.jaccard) for r in cands if r.jaccard >= THRESHOLD]
        kept = set(pq.read_table(gated_dir, columns=["doc_id"]).column(0).to_pylist())
        survivors = sorted(kept - {max(a, c) for a, c, _ in pairs})
        doomed = doomed_of(survivors)
        live = sorted(set(survivors) - set(doomed))
        queries = [d for d in live if d % max(1, len(texts) // QUERIES) == 0]
        with b.span("sources"):
            deduped = gated.join(ids_frame(sorted(kept - set(survivors))), "doc_id", "left_anti")
            W.write_parquet(deduped.withColumn("epoch", F.col("doc_id") % (EPOCHS + 1)),
                            stream_dir, partition_by=["epoch"])
            staged = R.read_parquet(spark, stream_dir)
        qt_df = spark.createDataFrame(
            sorted({(q, t) for q in queries for t in texts[q].lower().split()[:QT]}),
            "query_id long, term string")
        with b.span("operators.retrieval"):
            lexical = RET.bm25_topk(toks(staged.join(ids_frame(doomed), "doc_id", "left_anti")),
                                    qt_df, k=K).collect()
        qv_df = spark.createDataFrame([(q, [float(x) for x in vecs[q]]) for q in queries],
                                      "vec_id long, embedding array<double>")
        with b.span("operators.similarity"):
            ann = [(r.query_id, r.neighbor_id, r.rank) for r in SIM.topk_cosine_ivf(
                emb(staged), qv_df, corpus.centroids, k=K, nprobe=NPROBE).collect()]
        with b.span("operators.retrieval"):
            fused = RET.rrf_fuse(
                spark.createDataFrame([(r.query_id, r.doc_id, r.rank) for r in lexical],
                                      "query_id long, doc_id long, rank int"),
                spark.createDataFrame(ann, "query_id long, doc_id long, rank int"), k=K,
            ).collect()
        return dict(cands=len(cands), pairs=pairs, kept=kept, survivors=survivors, doomed=doomed,
                    staged=staged, qv_df=qv_df,
                    queries=queries, qt_df=qt_df, lexical=sorted(tuple(r) for r in lexical),
                    ann=sorted(ann), fused=sorted((r.query_id, r.rank, r.doc_id) for r in fused))

    t_end = time.perf_counter() + b.seconds
    out = b.op("batch", batch)
    if out is None:
        raise RuntimeError("the corpus batch failed; there is no stream to index")
    pairs = out["pairs"]
    b.check(out["kept"] == set(texts) - corpus.junk, "quality gate kept the wrong documents")
    b.check(all(abs(j - _jaccard(_shingles(texts[a]), _shingles(texts[c]))) < 1e-6 for a, c, j in pairs),
            "a verified pair's Jaccard differs from the exact value")
    b.check(_rrf([(q, d, r) for q, r, d, *_ in out["lexical"]], out["ann"]) == out["fused"],
            "rrf_fuse differs from reciprocal-rank fusion of its two arms")
    neardup_recall = len({(a, c) for a, c, _ in pairs} & set(corpus.planted)) / max(1, len(corpus.planted))
    ann_recall = _ann_recall(out["survivors"], out["queries"], vecs, out["ann"])
    in_bytes = _tree(stream_dir)[1]

    # -- the lexical index lifecycle
    def part(e: int):
        return R.read_parquet(spark, os.path.join(stream_dir, f"epoch={e}"))

    with b.span("sources"):
        base = part(0)
    with b.span("operators.retrieval"):
        RET.save_lexical_index(toks(base), lex, mode="overwrite", num_partitions=2)
    growth = []
    for e in range(1, EPOCHS + 1):
        before = _tree(lex)

        def ingest():
            with b.span("sources"):
                batch_df = part(e)
            with b.span("streaming.index_stream"):
                IS.ingest_epoch(spark, toks(batch_df), e, lex, vec_col="toks", partitions_per_epoch=2)

        b.op("write", ingest)
        growth.append(tuple(a - p for a, p in zip(_tree(lex), before)))
        if e == DELETE_AFTER:
            def delete():
                with b.span("operators.index_store"):
                    IDX.delete_from_index(spark, lex, out["doomed"])

            b.op("delete", delete)
    store_bytes = _tree(lex)[1]

    probe_s: dict[int, float] = {}

    def probe(depth: int):
        t0 = time.perf_counter()
        with b.span("operators.retrieval", tag="probe"):
            tf, df, stats, meta = RET.load_lexical_index(spark, lex)
            rows = RET.probe_lexical_index(tf, df, stats, meta, out["qt_df"], k=K).collect()
        probe_s[depth] = time.perf_counter() - t0
        got = sorted(tuple(r) for r in rows)
        b.check(got == out["lexical"],
                f"probe at depth {depth} differs from in-session bm25_topk over the live documents")
        return got

    b.op("read", lambda: probe(EPOCHS))
    deep_in = b.tracer.tag_total("probe", "input_bytes")

    def compact():
        with b.span("operators.index_store"):
            IDX.compact_index(spark, lex)

    b.op("compact", compact)
    compact_files, compact_bytes = _tree(lex)
    b.op("read", lambda: probe(0))
    flat_in = b.tracer.tag_total("probe", "input_bytes") - deep_in
    while time.perf_counter() < t_end:
        b.op("read", lambda: probe(0))

    b.log(f"start={b.start_s:.2f} ready={b.ready_s:.2f} stage={stage_s:.2f} "
          f"samples={ {k: [round(x, 2) for x in v] for k, v in b.samples.items()} }")
    e2e = {
        "setup_s": b.ready_s + stage_s,
        "batch_s": b.median("batch"),
        "write_s": b.median("write"),
        "read_s": b.median("read"),
        "recall": min(neardup_recall, ann_recall),
        "store_bytes_per_input_byte": store_bytes / in_bytes,
        "ops.ok_frac": (b.attempted - b.failed) / b.attempted,
    }
    streaming = b.tracer.totals.get("streaming.index_stream", {})
    layer = b.tracer.layer_metrics(per=1)
    layer.update({
        "session.start_s": b.start_s,
        "sources.files_written": _tree(gated_dir)[0] + _tree(stream_dir)[0],
        "operators.dedup_text.candidate_pairs": out["cands"],
        "operators.dedup_text.verified_pairs": len(pairs),
        "operators.dedup_text.verify_ratio": len(pairs) / max(1, out["cands"]),
        "operators.dedup_text.neardup_recall": neardup_recall,
        "operators.similarity.rescored_per_query": (
            _rescored(SIM, emb(out["staged"]), out["qv_df"], corpus.centroids) / max(1, len(out["queries"]))
            if b.tracer.traced else 0),
        "operators.similarity.ann_recall_at_10": ann_recall,
        f"operators.retrieval.probe_s.depth_{EPOCHS}": probe_s.get(EPOCHS, 0.0),
        "operators.retrieval.probe_s.depth_0": probe_s.get(0, 0.0),
        "operators.retrieval.probe_input_bytes": (deep_in + flat_in) / 2,
        "streaming.index_stream.jobs_per_epoch": streaming.get("jobs", 0) / EPOCHS,
        "streaming.index_stream.files_per_epoch": statistics.mean(f for f, _ in growth),
        "streaming.index_stream.bytes_per_epoch": statistics.mean(s for _, s in growth),
        "operators.index_store.delete_s": b.median("delete"),
        "operators.index_store.compact_s": b.median("compact"),
        "operators.index_store.compact_bytes_rewritten": compact_bytes,
        "operators.index_store.live_files": compact_files,
    })
    return e2e, layer
