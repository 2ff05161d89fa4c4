"""`refresh`: writes beside reads on the epoch/tombstone/compact lifecycle.

Set-up stages ``synth_pages(seed)`` as two page batches plus one
embedding file per batch (clustered 64-d vectors keyed by doc_id,
``vec_id = doc_id``), lands batch 0, drains it with
``incremental_index_update`` and builds the LSH, IVF and PQ layouts over
its vectors (IVF seeds sampled once and PQ books taken untrained from
``build_pq_index(iters=0)``; both stay frozen afterwards). One untimed
read of every path follows.

The measured phase is one refresh cycle, then reads until ``--seconds``:
1. land batch 1, its embeddings and a tombstone list of batch-0 docs
   (renames and a small file: they appear at once);
2. drain the pages (``incremental_index_update``);
3. per layout, on one thread per layout: add the vectors
   (``{lsh,ivf,pq}_index_add``), tombstone the listed docs
   (``{lsh,ivf,pq}_index_delete``) and compact (``lsh_index_compact``,
   ``pq_index_compact``; IVF has no compaction); then ``compact_state``
   compacts the drained postings and the text index is finalized again;
4. one text query through the ``tombstone_search`` overlay, then a
   10-vector probe of every layout, the layouts concurrently;
5. more text queries until ``--seconds`` have passed, at least
   ``TEXT_QUERIES`` in all.

The freshness lag is landing → the last answer of step 4. The gate: text
answers equal the oracle over the drained pages with tombstoned docs
removed (stale-statistics overlay semantics), no tombstoned doc or
vector is ever returned, and after the cycle every layout answers
exactly as a fresh build over the live vectors does.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np

from perfbench.common import dir_bytes, parallel, timing, topk_matches

N_INITIAL = 600
BATCH = 300
DELETES = 20
TEXT_QUERIES = 8
PROBES = 10
K = 10
DIM = 64
CLUSTERS = 16
NOISE = 0.35
ZIPF_S = 1.1


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = pa.array(list(vecs), type=pa.list_(pa.float32()))
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)


def _write_ids(path: str, ids) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array(list(ids), pa.int64())}), path)


def reference_layouts(vectors: dict, live, seeds, books) -> dict:
    """Sorted rows of fresh LSH (vec_id, t, sig), IVF (vec_id, cell) and
    PQ (vec_id, codes) layouts over the ``live`` vectors, computed in
    Python with the engine's tie and rounding rules."""
    from search_engine_spark.operators.hashing import py_hyperplane_sigs
    from search_engine_spark.operators.similarity import _py_cos

    dsub = DIM // len(books)

    def pq_code(vec, s: int, book) -> int:
        sub = [float(x) for x in vec[s * dsub:(s + 1) * dsub]]

        def d2(c):
            acc = 0.0
            for x, y in zip(sub, c):
                acc = acc + (x - y) * (x - y)
            return round(acc, 9)
        return min(range(len(book)), key=lambda i: (d2(book[i]), i))

    ids = sorted(live)
    return {
        "lsh": sorted((v, t, sig) for v in ids
                      for t, sig in enumerate(py_hyperplane_sigs(vectors[v], DIM, 8, 8))),
        "ivf": sorted((v, min(seeds, key=lambda cs: (-round(_py_cos(vectors[v], cs[1]), 9),
                                                      cs[0]))[0]) for v in ids),
        "pq": sorted((v, tuple(pq_code(vectors[v], s, b) for s, b in enumerate(books)))
                     for v in ids),
    }


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from oracle import oracle
    from search_engine_spark.functions.textproc import tokenize_query
    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.operators import query as q
    from search_engine_spark.operators import similarity as sim
    from search_engine_spark.sources import synth_pages
    from search_engine_spark.streaming import incremental as inc

    spark, tr, work, seed = ctx.spark, ctx.tracer, ctx.work, ctx.seed
    rng = np.random.default_rng(seed)
    stage, inp, emb_dir, tomb_dir = (f"{work}/{d}" for d in ("stage", "input", "emb", "tomb"))
    state, lsh, ivf, pqp = (f"{work}/{d}" for d in ("state", "lsh", "ivf", "pq"))
    for d in (inp, emb_dir, tomb_dir):
        os.makedirs(d)

    # -- set-up: both batches' pages and vectors staged before timing
    t = time.perf_counter()
    offset = F.unix_timestamp("warc_ts") - F.unix_timestamp(F.lit("2025-06-01 00:00:00"))
    (synth_pages(spark, N_INITIAL + BATCH, seed=seed)
     .withColumn("batch", F.when(offset < N_INITIAL, 0).otherwise(1))
     .write.partitionBy("batch").parquet(stage))
    pages = (spark.read.parquet(stage)
             .select(F.xxhash64("url").alias("doc_id"), "html", "text", "lang", "batch")
             .toPandas())
    by_batch = {b: g for b, g in pages.groupby("batch")}
    centers = rng.normal(size=(CLUSTERS, DIM))
    vectors = {}  # vec_id -> embedding, for probes and the reference layouts
    for b, g in by_batch.items():
        ids = g["doc_id"].to_numpy(np.int64)
        vecs = (centers[rng.integers(CLUSTERS, size=len(ids))]
                + NOISE * rng.normal(size=(len(ids), DIM))).astype(np.float32)
        _write_vectors(f"{stage}/emb_{b}.parquet", ids, vecs)
        vectors.update(zip(ids.tolist(), vecs.tolist()))

    def land(b: int, dead) -> None:
        os.rename(f"{stage}/batch={b}", f"{inp}/b_{b:03d}")
        os.rename(f"{stage}/emb_{b}.parquet", f"{emb_dir}/emb_{b:03d}.parquet")
        if dead:
            _write_ids(f"{tomb_dir}/t_{b:03d}.parquet", dead)

    land(0, [])
    with tr.span("streaming.incremental.incremental_index_update"):
        idx = inc.incremental_index_update(spark, f"{inp}/b_*", state)
    emb0 = spark.read.parquet(emb_dir)

    def build(name, fn, path, **kw):
        def go():
            with tr.span(f"operators.similarity.build_{name}_index"):
                fn(emb0, path, **kw)
        return go

    # the three layouts are independent: built concurrently
    parallel(build("lsh", sim.build_lsh_index, lsh), build("ivf", sim.build_ivf_index, ivf),
             build("pq", sim.build_pq_index, pqp, iters=0))
    ctx.setup_s = ctx.session_s + time.perf_counter() - t
    phase = {"setup": ctx.setup_s}
    t = time.perf_counter()
    ctx.rss.sample()
    seeds = sim.load_ivf_index(spark, ivf)[0]
    books = sim._read_pq_books(spark, pqp)

    # -- untimed inputs for the oracle and the query stream
    ctx.textproc_sample([bytes(h).decode("utf-8") for h in pages["html"][:100]])
    docs_of = {
        b: [(int(d), t) for d, t, lang in zip(g["doc_id"], g["text"], g["lang"])
            if lang and lang.startswith("en") and t]
        for b, g in by_batch.items()
    }
    orc0 = oracle.build_index(docs_of[0], html=False)
    vocab = sorted(((t, len(p)) for t, p in orc0.postings.items()
                    if t and tokenize_query(t) == [t]), key=lambda tv: (-tv[1], tv[0]))
    zipf = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -ZIPF_S
    zipf /= zipf.sum()
    # query texts, drawn before timing; lengths cycle 1-3 in every run
    queries = [" ".join(vocab[i][0] for i in rng.choice(len(vocab), 1 + n % 3, replace=False,
                                                         p=zipf)) for n in range(400)]
    dead = [int(x) for x in rng.choice(sorted(by_batch[0]["doc_id"]), DELETES, replace=False)]
    probe_ids = {b: [int(x) for x in rng.choice(sorted(by_batch[b]["doc_id"]), PROBES,
                                                replace=False)] for b in (0, 1)}

    # -- reads; each answer is kept with the phase it belongs to: 0 before
    # the cycle (warm-up), 1 after it
    texts: list = []  # (phase, text, rows)
    probes: list = []  # (phase, layout, rows)
    text_lat, ann_lat = [], []

    def text_read(phase: int, idx) -> None:
        text = queries[len(texts) % len(queries)]
        deleted = (spark.read.parquet(tomb_dir) if os.listdir(tomb_dir)
                   else spark.createDataFrame([], "doc_id long"))
        s = time.perf_counter()
        with tr.span("operators.query.tombstone_search") as rec:
            rows = q.tombstone_search(idx, deleted, tokenize_query(text), k=K).collect()
            rec["hits"] = len(rows)
        if phase:
            text_lat.append((time.perf_counter() - s) * 1000.0)
        texts.append((phase, text, [(int(r["doc_id"]), float(r["score"])) for r in rows]))

    def probe_all(phase: int) -> None:
        """A probe of every layout with the phase's vectors, the three
        layouts concurrently (load + top-k)."""
        qv = {v: vectors[v] for v in probe_ids[phase]}

        def probe(name: str, load, topk, path: str):
            def go():
                s = time.perf_counter()
                with tr.span(f"operators.similarity.{name}_probe") as rec:
                    rows = topk(load(spark, path))
                    rec["hits"] = len(rows)
                if phase:
                    ann_lat.append((time.perf_counter() - s) * 1000.0)
                probes.append((phase, name, rows))
            return go

        parallel(
            probe("lsh", sim.load_lsh_index, lambda h: [
                tuple(r) for r in sim.lsh_index_topk_batch(spark, h, qv, k=K).collect()], lsh),
            probe("ivf", sim.load_ivf_index, lambda h: [
                tuple(r) for r in sim.ivf_index_topk_batch(spark, h, qv, k=K).collect()], ivf),
            probe("pq", sim.load_pq_index, lambda h: [
                (qid,) + tuple(r) for qid, v in qv.items()
                for r in sim.pq_index_topk(spark, h, v, query_vec_id=qid, k=K).collect()], pqp),
        )

    def layout_update(name: str, path: str, new, tomb):
        def go():
            with tr.span(f"operators.similarity.{name}_index_add"):
                getattr(sim, f"{name}_index_add")(new, path)
            with tr.span(f"operators.similarity.{name}_index_delete"):
                getattr(sim, f"{name}_index_delete")(spark, path, tomb)
            if name != "ivf":  # the IVF layout has no compaction
                with tr.span(f"operators.similarity.{name}_index_compact"):
                    getattr(sim, f"{name}_index_compact")(spark, path)
        return go

    # warm-up, untimed: every read path once
    text_read(0, idx)
    probe_all(0)
    phase["warmup"] = time.perf_counter() - t

    # -- measured phase: one refresh cycle, then reads until the deadline
    t0 = time.perf_counter()
    land(1, dead)
    prev = idx
    s = time.perf_counter()
    with tr.span("streaming.incremental.incremental_index_update"):
        idx = inc.incremental_index_update(spark, f"{inp}/b_*", state)
    drain_s = time.perf_counter() - s
    prev.unpersist()
    new = spark.read.parquet(f"{emb_dir}/emb_001.parquet")
    tomb = spark.read.parquet(f"{tomb_dir}/t_001.parquet")
    # the layouts are independent stores: each is updated on its own thread
    parallel(*(layout_update(name, path, new, tomb)
               for name, path in (("lsh", lsh), ("ivf", ivf), ("pq", pqp))))
    with tr.span("streaming.incremental.compact_state"):
        inc.compact_state(spark, state)
    # an index handle read before compaction points at the swapped-out
    # epoch files, so the state is finalized again
    with tr.span("streaming.incremental.read_state_index"):
        idx.unpersist()
        idx = inc.read_state_index(spark, state)
    write_s = time.perf_counter() - t0
    text_read(1, idx)
    probe_all(1)
    lag_s = time.perf_counter() - t0
    while len(text_lat) < TEXT_QUERIES or time.perf_counter() < t0 + ctx.seconds:
        text_read(1, idx)
    ctx.rss.sample()
    phase["measured"] = time.perf_counter() - t0
    t = time.perf_counter()

    # -- output gate
    orc = oracle.build_index(docs_of[0] + docs_of[1], html=False)
    landed = {0: set(vectors) - set(by_batch[1]["doc_id"].tolist()), 1: set(vectors)}
    gone = {0: set(), 1: set(dead)}
    for ph, text, rows in texts:
        want = {d: s for d, s in oracle.search_bm25(orc if ph else orc0, text, k=10**9)
                if d not in gone[ph]}
        ctx.check(f"phase {ph} tombstone_search {text!r}",
                  topk_matches(rows, want, K, rel_tol=0.0, abs_tol=1e-6), f"got {rows}")
    for ph, name, rows in probes:
        live = landed[ph] - gone[ph]
        bad = [row for row in rows if row[1] not in live or row[1] == row[0]]
        ctx.check(f"phase {ph} {name} probe returns only live, other vectors", not bad,
                  f"returned {bad[:3]}")
    with tr.span("operators.index_build.index_stats"):
        st = ib.index_stats(idx).collect()[0]
    got = (st["n_docs"], st["vocab_size"], st["n_postings"], st["total_tokens"])
    want = (orc.n_docs, len(orc.postings), sum(len(p) for p in orc.postings.values()),
            sum(orc.doc_len.values()))
    ctx.check("drained index_stats", got == want, f"engine {got} vs oracle {want}")

    # every mutated layout holds exactly the rows a fresh build over the
    # live vectors would write (frozen IVF seeds and PQ books), so it
    # answers every probe as that build would
    live = landed[1] - gone[1]
    want = reference_layouts(vectors, live, seeds, books)
    got = parallel(
        lambda: sim.load_lsh_index(spark, lsh).select("vec_id", "t", "sig").collect(),
        lambda: sim.load_ivf_index(spark, ivf)[1].select("vec_id", "cell").collect(),
        lambda: sim.load_pq_index(spark, pqp)[1].select("vec_id", "codes").collect(),
    )
    for name, rows in zip(("lsh", "ivf", "pq"), got):
        rows = sorted(tuple(tuple(x) if isinstance(x, list) else x for x in r) for r in rows)
        ctx.check(f"{name} layout equals a fresh build over the live set", rows == want[name],
                  f"{len(rows)} rows vs {len(want[name])}")
    phase["checks"] = time.perf_counter() - t

    # -- metrics
    words = [w for _, text, _ in texts for w in text.split()]
    df0 = dict(vocab)
    drained_text = sum(len(t.encode("utf-8")) for b in (0, 1) for _, t in docs_of[b])
    state_bytes = dir_bytes(f"{state}/postings_raw")
    tm = timing(text_lat)
    ctx.properties.update({
        "initial_pages": N_INITIAL, "batch_pages": BATCH, "deletes": DELETES,
        "docs_drained": orc.n_docs, "text_bytes": drained_text,
        "vocab_size": len(orc.postings), "vectors_live": len(live),
        "text_queries": len(texts), "probe_vectors": PROBES,
        "query_len_hist": dict(sorted(Counter(len(t.split()) for _, t, _ in texts).items())),
        "head_term_share": sum(df0[w] >= orc0.n_docs / 2 for w in words) / len(words),
        "tail_term_share": sum(df0[w] == 1 for w in words) / len(words),
        "state_bytes": state_bytes, "phase_s": phase, "write_s": write_s,
        "layout_bytes": {n: dir_bytes(p) for n, p in (("lsh", lsh), ("ivf", ivf), ("pq", pqp))},
    })
    ctx.note("fresh_lag_s", lag_s, "s")
    ctx.note("refresh_query_tail_ms", {k: v for k, v in tm.items() if k != "p50"}, "ms")
    ctx.note("ann_probe_p50_ms", timing(ann_lat)["p50"], "ms")
    return {
        "ops_per_s": (len(by_batch[1]) + len(dead)) / write_s,
        "op_p50_ms": tm["p50"],
        "index_docs_per_s": len(docs_of[1]) / drain_s,
        "index_bytes_per_text_byte": state_bytes / drained_text,
    }
