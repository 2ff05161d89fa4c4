"""`serve`: interactive search, two closed-loop clients, three query paths.

Set-up writes ``synth_pages(seed)`` to parquet, bulk-builds the index
(``build_index_from_pages`` → ``write_index`` → ``build_block_index`` +
``write_block_index``) and serves from ``read_index`` plus the written
block index. The build runs ``BUILD_PASSES`` times; the first pass is
the warm-up and the later ones give the build rate. The index gate
compares ``index_stats`` with the oracle index over the same pages.

The clients run a pre-generated query stream: 1-4 terms drawn
Zipf-style from the index vocabulary, a share of exact repeats, and each
query sent to ``search(scorer="bm25")``, ``search(scorer="tfidf_compat")``
or ``block_search``: first for ``WARMUP_S`` untimed, then for the
measured ``--seconds``. Every answer is compared with ``oracle/oracle.py``.
"""

from __future__ import annotations

import itertools
import statistics
import sys
import threading
import time
import traceback
from collections import Counter

import numpy as np

from perfbench.common import dir_bytes, drift, timing, topk_matches

N_PAGES = 1000
BUILD_PASSES = 2
CLIENTS = 2
WARMUP_S = 4
K = 10
ZIPF_S = 1.1
QUERY_LENS = (1, 2, 3, 4, 1, 2, 3)  # the length mix, in turn
REPEAT_SHARE = 0.2
STREAM_LEN = 2000
PATHS = ("bm25", "tfidf_compat", "block")
# exact-score tolerance per path: the row paths match the oracle to the
# last bit; tfidf_compat is f32; the block index stores f32 contributions
REL_TOL = {"bm25": 1e-9, "tfidf_compat": 1e-6, "block": 1e-5}


def make_stream(rng: np.random.Generator, vocab: list[tuple[str, int]]):
    """[(query text, path, repeated?)]: Zipf over the df-ranked vocabulary."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    stream = []
    for _ in range(STREAM_LEN):
        path = PATHS[len(stream) % len(PATHS)]  # paths take turns
        if stream and rng.random() < REPEAT_SHARE:
            stream.append((stream[int(rng.integers(len(stream)))][0], path, True))
            continue
        n = QUERY_LENS[len(stream) % len(QUERY_LENS)]
        picks = rng.choice(len(vocab), size=n, replace=False, p=p)
        stream.append((" ".join(vocab[i][0] for i in picks), path, False))
    return stream


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from oracle import oracle
    from search_engine_spark.functions.textproc import extract_text, tokenize_query
    from search_engine_spark.operators import blocks as bl
    from search_engine_spark.operators import index_build as ib
    from search_engine_spark.operators import query as q
    from search_engine_spark.sources import synth_pages

    spark, tr, work, seed = ctx.spark, ctx.tracer, ctx.work, ctx.seed
    rng = np.random.default_rng(seed)

    # -- set-up: pages, then the bulk build (warm-up pass + timed passes)
    t = time.perf_counter()
    synth_pages(spark, N_PAGES, seed=seed).write.parquet(f"{work}/pages")
    pages_s = time.perf_counter() - t
    pass_s = []
    for i in range(BUILD_PASSES):
        out = f"{work}/build{i}"
        pages = spark.read.parquet(f"{work}/pages")
        t = time.perf_counter()
        with tr.span("operators.index_build.build_index_from_pages"):
            idx = ib.build_index_from_pages(pages)
        with tr.span("operators.index_build.write_index"):
            ib.write_index(idx, f"{out}/index")
        with tr.span("operators.blocks.build_block_index"):
            bl.write_block_index(bl.build_block_index(idx), f"{out}/blocks")
        pass_s.append(time.perf_counter() - t)
        idx.unpersist()
        ctx.rss.sample()
    with tr.span("operators.index_build.read_index"):
        index = ib.read_index(spark, f"{out}/index")
    blocks = spark.read.parquet(f"{out}/blocks")
    ctx.setup_s = ctx.session_s + pages_s + statistics.median(pass_s)

    # -- oracle over the same pages (untimed)
    docs = (
        spark.read.parquet(f"{work}/pages")
        .select(F.xxhash64("url").alias("doc_id"), "html", "lang")
        .toPandas()
    )
    ctx.textproc_sample([bytes(h).decode("utf-8") for h in docs["html"][:100]])
    texts = {}
    for d, h, lang in zip(docs["doc_id"], docs["html"], docs["lang"]):
        if lang and lang.startswith("en"):
            text = extract_text(bytes(h).decode("utf-8"))
            if text:
                texts[int(d)] = text
    orc = oracle.build_index(list(texts.items()), html=False)
    with tr.span("operators.index_build.index_stats"):
        st = ib.index_stats(index).collect()[0]
    want = (orc.n_docs, len(orc.postings), sum(len(p) for p in orc.postings.values()),
            sum(orc.doc_len.values()))
    got = (st["n_docs"], st["vocab_size"], st["n_postings"], st["total_tokens"])
    ctx.check("index_stats", got == want and abs(st["avgdl"] - orc.avgdl) <= 1e-6,
              f"engine {got} avgdl={st['avgdl']} vs oracle {want} avgdl={orc.avgdl}")
    index_bytes = dir_bytes(f"{out}/index")
    block_bytes = dir_bytes(f"{out}/blocks")
    text_bytes = sum(len(t.encode("utf-8")) for t in texts.values())

    # -- query stream over the oracle's vocabulary, df-ranked
    vocab = sorted(
        ((t, len(p)) for t, p in orc.postings.items() if t and tokenize_query(t) == [t]),
        key=lambda tv: (-tv[1], tv[0]),
    )
    df_of = dict(vocab)
    stream = make_stream(rng, vocab)

    def answer(text: str, path: str):
        if path == "block":
            with tr.span("operators.blocks.block_search", index_bytes=block_bytes) as rec:
                rows = bl.block_search(blocks, spark, {0: text}, k=K).collect()
                rec["hits"] = len(rows)
        else:
            with tr.span(f"operators.query.search.{path}", index_bytes=index_bytes) as rec:
                rows = q.search(index, spark, {0: text}, k=K, scorer=path).collect()
                rec["hits"] = len(rows)
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    # -- CLIENTS closed-loop clients share the stream: an untimed warm-up
    # of WARMUP_S, then the measured phase of --seconds
    answers = []  # (stream position, rows | None), warm-up included
    lock = threading.Lock()
    cursor = itertools.count()

    def serve_for(seconds: float):
        """Latencies of the queries answered within ``seconds``, the time
        from the start to the last answer, and the stream positions asked."""
        lat_ms: list[float] = []
        asked: list[int] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        last_end = [t0]

        def client():
            while True:
                with lock:
                    if time.perf_counter() >= deadline:
                        return
                    i = next(cursor) % len(stream)
                    asked.append(i)
                text, path, _ = stream[i]
                s = time.perf_counter()
                try:
                    rows = answer(text, path)
                except Exception:  # counted as failed; the loop keeps serving
                    traceback.print_exc(file=sys.stderr)
                    rows = None
                e = time.perf_counter()
                with lock:
                    lat_ms.append((e - s) * 1000.0)
                    answers.append((i, rows))
                    last_end[0] = max(last_end[0], e)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return lat_ms, last_end[0] - t0, asked

    serve_for(WARMUP_S)
    lat_ms, elapsed, asked = serve_for(ctx.seconds)
    ctx.rss.sample()
    served = len(lat_ms)

    # -- output gate: every answer against the oracle
    exact: dict = {}
    for i, rows in answers:
        text, path, _ = stream[i]
        key = (text, "tfidf_compat" if path == "tfidf_compat" else "bm25")
        if key not in exact:
            fn = oracle.search_tfidf_compat if key[1] == "tfidf_compat" else oracle.search_bm25
            exact[key] = dict(fn(orc, text, k=10**9))
        ok = rows is not None and topk_matches(rows, exact[key], K, REL_TOL[path])
        ctx.check(f"query[{path}] {text!r}", ok, f"got {rows}")

    used = [stream[i] for i in asked]
    terms = [t for text, _, _ in used for t in text.split()]
    n = orc.n_docs
    tm = timing(lat_ms)
    ctx.properties.update({
        "pages": N_PAGES, "docs": n, "text_bytes": text_bytes,
        "vocab_size": len(orc.postings), "query_vocab": len(vocab),
        "head_term_share": sum(df_of[t] >= n / 2 for t in terms) / len(terms),
        "tail_term_share": sum(df_of[t] == 1 for t in terms) / len(terms),
        "query_len_hist": dict(sorted(Counter(len(s[0].split()) for s in used).items())),
        "repeated_share": sum(s[2] for s in used) / len(used),
        "path_share": dict(Counter(s[1] for s in used)),
        "index_bytes": index_bytes, "block_bytes": block_bytes,
        "clients": CLIENTS, "build_passes_s": pass_s,
    })
    ctx.note("query_tail_ms", {k: v for k, v in tm.items() if k != "p50"}, "ms")
    ctx.note("query_drift_last_over_first_quartile", drift(lat_ms), "ratio")
    return {
        "ops_per_s": served / elapsed,
        "op_p50_ms": tm["p50"],
        "index_docs_per_s": n / statistics.median(pass_s[1:] or pass_s),
        "index_bytes_per_text_byte": (index_bytes + block_bytes) / text_bytes,
    }
