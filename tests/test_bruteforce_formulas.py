"""Structure-free brute-force differentials — formula / pipeline family
(VERDICT r5 item 4: mirrored-oracle inventory).

These operators share formula constants or construction (tf-idf / BM25
weighting, PSI smoothing grids, temperature sampling, the unrolled
pagerank update, waterfall thresholds, packed-sequence arithmetic,
window-offset enumeration) between the Spark plan and the DuckDB
oracle. Each is recomputed here from its documented definition in
plain Python / numpy on the sf0.001 fixture. Float-valued outputs are
compared at a tolerance far below the operators' 6-dp rounding but far
above any plausible algebra error.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict
from datetime import timedelta

import numpy as np

from tests.bruteforce_util import (
    canon_tokens,
    doc_tokens,
    load_documents,
    load_table_rows,
    round6,
    rows_as_tuples,
    tfidf_pair_cosines,
    word_ngrams,
)
import pytest

# Deep hardening tier (VERDICT r13 item 2): deselected by default
# so the driver's pytest run finishes in budget; `make test-deep`
# runs it. See pytest.ini.
pytestmark = pytest.mark.deep

TOL = 1e-6


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ------------------------------------------------------- text formulas


def test_token_entropy_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_token_entropy,
    )

    per_src: dict[str, Counter] = defaultdict(Counter)
    for d in load_documents(sf_dir):
        per_src[d["source"]].update(canon_tokens(d["text"]))
    expected = []
    for src, cnt in per_src.items():
        n = sum(cnt.values())
        ent = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        expected.append((src, n, len(cnt), ent))
    got = rows_as_tuples(text_token_entropy(spark, sf_dir),
                         ["source", "n_tokens", "vocab_size",
                          "entropy_bits"])
    assert [r[:3] for r in got] == [r[:3] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[3] - e[3]) < TOL


def test_unigram_logprob_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_unigram_logprob,
    )

    toks = doc_tokens(sf_dir)
    uni: Counter = Counter()
    for t in toks.values():
        uni.update(t)
    total = sum(uni.values())
    expected = []
    for d, t in toks.items():
        if not t:
            continue
        avg = sum(math.log(uni[w] / total) for w in t) / len(t)
        expected.append((d, len(t), avg))
    got = rows_as_tuples(text_unigram_logprob(spark, sf_dir),
                         ["doc_id", "n_toks", "avg_logprob"])
    assert [r[:2] for r in got] == [r[:2] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[2] - e[2]) < TOL


def test_tfidf_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.text_analysis import text_tfidf

    toks = doc_tokens(sf_dir)
    df: Counter = Counter()
    for t in toks.values():
        df.update(set(t))
    n_docs = sum(1 for t in toks.values() if t)
    expected = []
    for d, t in toks.items():
        if d >= 20:
            continue
        for w, tf in Counter(t).items():
            expected.append(
                (d, w, tf, tf * math.log((n_docs + 1.0) / (df[w] + 1.0))))
    got = rows_as_tuples(text_tfidf(spark, sf_dir),
                         ["doc_id", "word", "tf", "tfidf"])
    assert [r[:3] for r in got] == [r[:3] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[3] - e[3]) < TOL


def test_bm25_matches_python(spark, sf_dir):
    """Textbook Okapi BM25 (k1=1.2, b=0.75) for the fixed query terms."""
    from mapreducewordcounting_spark.operators.text_analysis import text_bm25

    terms = {"scan", "merge", "window"}
    toks = doc_tokens(sf_dir)
    dls = {d: len(t) for d, t in toks.items()}
    n_docs = len(dls)
    avgdl = sum(dls.values()) / n_docs
    tf: dict[int, Counter] = {
        d: Counter(w for w in t if w in terms) for d, t in toks.items()}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    k1, b = 1.2, 0.75
    expected = []
    for d, c in tf.items():
        if not c:
            continue
        score = sum(
            math.log((n_docs - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
            * (f * (k1 + 1.0))
            / (f + k1 * (1.0 - b + b * dls[d] / avgdl))
            for w, f in c.items())
        expected.append((d, len(c), score))
    got = rows_as_tuples(text_bm25(spark, sf_dir),
                         ["doc_id", "n_terms_matched", "score"])
    assert [r[:2] for r in got] == [r[:2] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[2] - e[2]) < TOL


def test_tfidf_pair_cosine_matches_python(spark, sf_dir):
    """Sparse tf-idf cosine over 3-shingle 'words' with the df <= 20
    cap; pairs at rounded cosine >= 0.3."""
    from mapreducewordcounting_spark.operators.similarity import (
        TFIDF_COS_MIN,
        TFIDF_DF_CAP,
        similarity_tfidf_pairs,
    )

    expected = tfidf_pair_cosines(doc_tokens(sf_dir), TFIDF_DF_CAP,
                                  TFIDF_COS_MIN)
    got = rows_as_tuples(similarity_tfidf_pairs(spark, sf_dir),
                         ["id_a", "id_b", "cos_sim"])
    assert [r[:2] for r in got] == [r[:2] for r in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL


# ---------------------------------------------------- training pipeline


def test_pipeline_training_data_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.text_analysis import (
        pipeline_training_data,
    )

    stop = {"the", "a", "of", "and", "to"}
    kept: dict[str, int] = {}
    best: dict[str, tuple[int, str, int]] = {}
    for d in load_documents(sf_dir):
        t = canon_tokens(d["text"])
        if not (20 <= len(t) <= 1000):
            continue
        if sum(w in stop for w in t) / len(t) >= 0.5:
            continue
        h = _md5(d["text"])
        if h not in best or d["doc_id"] < best[h][0]:
            best[h] = (d["doc_id"], d["lang"], len(t))
    agg: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for _, lang, n in best.values():
        agg[lang][0] += 1
        agg[lang][1] += n
    expected = sorted((lang, n, tok) for lang, (n, tok) in agg.items())
    got = rows_as_tuples(pipeline_training_data(spark, sf_dir),
                         ["lang", "n_docs", "total_tokens"])
    assert got == expected


def test_quality_filter_report_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.training_ops import (
        quality_filter_report,
    )

    labels: Counter = Counter()
    docs = load_documents(sf_dir)
    for d in docs:
        t = canon_tokens(d["text"])
        n = len(t)
        if n < 20:
            labels["too_short"] += 1
            continue
        if n > 90:
            labels["too_long"] += 1
            continue
        wl = sum(len(w) for w in t) / n
        if wl < 4.0 or wl > 5.0:
            labels["word_len"] += 1
            continue
        if max(Counter(t).values()) / n > 0.15:
            labels["repetition"] += 1
            continue
        if len(set(t)) / n < 0.4:
            labels["low_diversity"] += 1
            continue
        labels["pass"] += 1
    total = len(docs)
    expected = sorted(
        (rule, n, round(n / total, 6)) for rule, n in labels.items())
    got = rows_as_tuples(quality_filter_report(spark, sf_dir),
                         ["rule", "n_docs", "pct"])
    assert [r[:2] for r in got] == [r[:2] for r in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < 1e-9


def test_lang_temperature_matches_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.training_ops import (
        lang_temperature_sampling,
    )

    n_tok: Counter = Counter()
    for d in load_documents(sf_dir):
        n_tok[d["lang"]] += len(canon_tokens(d["text"]))
    total = sum(n_tok.values())
    total_a = sum(c ** 0.3 for c in n_tok.values())
    expected = []
    for lang, c in n_tok.items():
        p_raw = c / total
        p_sample = c ** 0.3 / total_a
        expected.append((lang, c, p_raw, p_sample, p_sample / p_raw))
    expected.sort()
    got = rows_as_tuples(lang_temperature_sampling(spark, sf_dir),
                         ["lang", "n_tokens", "p_raw", "p_sample",
                          "oversample_factor"])
    assert [r[:2] for r in got] == [r[:2] for r in expected]
    for g, e in zip(got, expected):
        for i in (2, 3, 4):
            assert abs(g[i] - e[i]) < TOL


def test_token_ids_match_python(spark, sf_dir):
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_token_ids,
    )

    toks = doc_tokens(sf_dir)
    counts: Counter = Counter()
    for t in toks.values():
        counts.update(t)
    vocab = {w: i for i, (w, _) in enumerate(
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:40])}
    expected = []
    for d, t in toks.items():
        if not t:
            continue
        ids = [vocab.get(w, -1) for w in t]
        expected.append((d, " ".join(map(str, ids)), len(ids),
                         sum(1 for i in ids if i == -1)))
    got = rows_as_tuples(text_token_ids(spark, sf_dir),
                         ["doc_id", "token_ids", "n_tokens", "n_oov"])
    assert got == sorted(expected)


def test_pack_sequences_offset_matches_python(spark, sf_dir):
    """2048-token greedy offset packing: pack_id = floor(tokens-before
    / 2048) within each lang's doc_id order."""
    from mapreducewordcounting_spark.operators.training_ops import (
        pack_sequences_offset,
    )

    by_lang: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for d in load_documents(sf_dir):
        by_lang[d["lang"]].append(
            (d["doc_id"], len(canon_tokens(d["text"]))))
    expected = []
    for lang, rows in by_lang.items():
        rows.sort()
        cum = 0
        for doc_id, n in rows:
            expected.append((doc_id, lang, n, cum // 2048))
            cum += n
    got = rows_as_tuples(pack_sequences_offset(spark, sf_dir),
                         ["doc_id", "lang", "n_tokens", "pack_id"])
    assert got == sorted(expected)


# --------------------------------------------------------- drift / PSI


def test_psi_matches_python(spark, sf_dir):
    """Population-stability index on a 10-bucket equi-width grid fit on
    the reference half, +0.5 smoothing on both sides."""
    from mapreducewordcounting_spark.operators.drift import drift_psi_value

    evs = load_table_rows(sf_dir, "events")
    secs = [int(e["ts"].timestamp()) for e in evs]
    mid = (min(secs) + max(secs)) // 2
    by_type: dict[str, dict[str, list[float]]] = defaultdict(
        lambda: {"ref": [], "cur": []})
    for e, s in zip(evs, secs):
        side = "ref" if s <= mid else "cur"
        by_type[e["event_type"]][side].append(e["value"])
    expected = []
    for et, sides in by_type.items():
        ref, cur = sides["ref"], sides["cur"]
        if not ref or not cur:
            continue
        vmin, vmax = min(ref), max(ref)

        def bucket(v: float) -> int:
            if vmax <= vmin:
                return 0
            return max(0, min(9, int(math.floor(
                (v - vmin) / ((vmax - vmin) / 10.0)))))

        c_ref: Counter = Counter(bucket(v) for v in ref)
        c_cur: Counter = Counter(bucket(v) for v in cur)
        n_ref, n_cur = len(ref), len(cur)
        psi = sum(
            ((c_cur.get(b, 0) + 0.5) / (n_cur + 5.0)
             - (c_ref.get(b, 0) + 0.5) / (n_ref + 5.0))
            * math.log(((c_cur.get(b, 0) + 0.5) / (n_cur + 5.0))
                       / ((c_ref.get(b, 0) + 0.5) / (n_ref + 5.0)))
            for b in range(10))
        expected.append((et, n_ref, n_cur, psi))
    got = rows_as_tuples(drift_psi_value(spark, sf_dir),
                         ["event_type", "n_ref", "n_cur", "psi"])
    assert [r[:3] for r in got] == [r[:3] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[3] - e[3]) < TOL


# ----------------------------------------------------------- pagerank


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """Textbook damped PageRank with dangling-mass redistribution,
    10 synchronous iterations from uniform start — numpy matrices, no
    DataFrames, no SQL."""
    from mapreducewordcounting_spark.operators.iterative import (
        pagerank_nation_trade,
    )

    li = load_table_rows(sf_dir, "lineitem")
    orders = {o["o_orderkey"]: o["o_custkey"]
              for o in load_table_rows(sf_dir, "orders")}
    cust = {c["c_custkey"]: c["c_nationkey"]
            for c in load_table_rows(sf_dir, "customer")}
    supp = {s["s_suppkey"]: s["s_nationkey"]
            for s in load_table_rows(sf_dir, "supplier")}
    nations = sorted(n["n_nationkey"]
                     for n in load_table_rows(sf_dir, "nation"))
    idx = {n: i for i, n in enumerate(nations)}
    n = len(nations)
    W = np.zeros((n, n))
    for r in li:
        src = cust[orders[r["l_orderkey"]]]
        dst = supp[r["l_suppkey"]]
        W[idx[src], idx[dst]] += 1.0
    out_w = W.sum(axis=1)
    P = np.divide(W, out_w[:, None], where=out_w[:, None] > 0)
    dangling = out_w == 0
    d = 0.85
    rank = np.full(n, 1.0 / n)
    for _ in range(10):
        dm = rank[dangling].sum()
        rank = (1.0 - d) / n + d * dm / n + d * (P.T @ rank)
    expected = sorted(zip(nations, rank))
    got = rows_as_tuples(pagerank_nation_trade(spark, sf_dir),
                         ["node", "rank"])
    assert [r[0] for r in got] == [e[0] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[1] - e[1]) < 1e-8, (g, e)
    assert abs(sum(r for _, r in got) - 1.0) < 1e-6


# ------------------------------------------------------ temporal twins


def test_sliding_window_matches_python(spark, sf_dir):
    """1-hour windows sliding by 30 min: every event lands in exactly
    the two windows whose [start, start+1h) covers its timestamp."""
    from mapreducewordcounting_spark.streaming import (
        stream_sliding_batch_twin,
    )

    counts: Counter = Counter()
    hour_us = 3_600_000_000
    half_us = hour_us // 2
    for e in load_table_rows(sf_dir, "events"):
        t_us = int(e["ts"].timestamp() * 1_000_000)
        for off in (0, half_us):
            w_start = (t_us - off) // hour_us * hour_us + off
            counts[w_start] += 1
    expected = sorted(counts.items())
    got = rows_as_tuples(stream_sliding_batch_twin(spark, sf_dir),
                         ["w_start_us", "n_events"])
    assert got == expected


def test_resample_ffill_matches_python(spark, sf_dir):
    """Daily last-value resample + forward fill on the global day grid."""
    from mapreducewordcounting_spark.operators.temporal import (
        time_resample_ffill,
    )

    evs = load_table_rows(sf_dir, "events")
    closes: dict[tuple[int, object], tuple] = {}
    days = set()
    users = set()
    for e in evs:
        day = e["ts"].date()
        days.add(day)
        users.add(e["user_id"])
        key = (e["user_id"], day)
        mark = (e["ts"], e["event_id"])
        if key not in closes or mark > closes[key][0]:
            closes[key] = (mark, e["value"])
    d0, d1 = min(days), max(days)
    grid = [d0 + timedelta(days=i) for i in range((d1 - d0).days + 1)]
    expected = []
    for u in sorted(users):
        last = None
        for day in grid:
            v = closes.get((u, day))
            if v is not None:
                last = v[1]
            expected.append((u, day, last, v is None))
    got = rows_as_tuples(time_resample_ffill(spark, sf_dir),
                         ["user_id", "day", "close_value", "was_gap"])
    assert got == sorted(expected)


def test_interpolate_linear_matches_python(spark, sf_dir):
    """Daily last-value resample + linear interpolation of interior
    gaps ((day-prev)/(next-prev) weights, round6), edges left NULL."""
    from mapreducewordcounting_spark.operators.temporal import (
        time_interpolate_linear,
    )

    evs = load_table_rows(sf_dir, "events")
    closes: dict[tuple[int, object], tuple] = {}
    days = set()
    users = set()
    for e in evs:
        day = e["ts"].date()
        days.add(day)
        users.add(e["user_id"])
        key = (e["user_id"], day)
        mark = (e["ts"], e["event_id"])
        if key not in closes or mark > closes[key][0]:
            closes[key] = (mark, e["value"])
    d0, d1 = min(days), max(days)
    grid = [d0 + timedelta(days=i) for i in range((d1 - d0).days + 1)]
    expected = []
    for u in sorted(users):
        obs = [(day, closes[(u, day)][1]) for day in grid
               if (u, day) in closes and closes[(u, day)][1] is not None]
        for day in grid:
            c = closes.get((u, day))
            if c is not None and c[1] is not None:
                expected.append((u, day, round6(c[1]), "obs"))
                continue
            prev = max(((d, v) for d, v in obs if d < day),
                       default=None, key=lambda x: x[0])
            nxt = min(((d, v) for d, v in obs if d > day),
                      default=None, key=lambda x: x[0])
            if prev is None or nxt is None:
                expected.append((u, day, None, "edge"))
            else:
                w = (day - prev[0]).days / (nxt[0] - prev[0]).days
                expected.append(
                    (u, day, round6(prev[1] + (nxt[1] - prev[1]) * w),
                     "interp"))
    got = rows_as_tuples(
        time_interpolate_linear(spark, sf_dir),
        ["user_id", "day", "value_interp", "fill_kind"])
    assert got == sorted(expected)


# ----------------------------------------------------------- ANN / RP


def test_ann_rp_det_matches_python(spark, sf_dir):
    """Deterministic random-hyperplane LSH from the documented rule
    (sign p,d = parity of first hex nibble of md5('rp:<p>:<d>')),
    4-bit bands, exact cosine re-rank, top-5 per query vec_id < 10."""
    from mapreducewordcounting_spark.operators.similarity import (
        similarity_ann_rp_det,
    )

    planes = np.array([
        [1.0 if int(hashlib.md5(f"rp:{p}:{d}".encode())
                    .hexdigest()[0], 16) % 2 == 0 else -1.0
         for d in range(64)]
        for p in range(16)])
    rows = load_table_rows(sf_dir, "embeddings")
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    bits = (X @ planes.T >= 0).astype(int)  # n x 16
    band_vals = np.array([
        bits[:, 4 * b] * 8 + bits[:, 4 * b + 1] * 4
        + bits[:, 4 * b + 2] * 2 + bits[:, 4 * b + 3]
        for b in range(4)]).T  # n x 4
    norms = np.sqrt((X * X).sum(axis=1))
    by_id = {v: i for i, v in enumerate(ids)}
    expected = []
    for q in [v for v in ids if v < 10]:
        qi = by_id[q]
        cands = {
            ids[ci] for ci in range(len(ids))
            if ids[ci] != q and any(
                band_vals[ci][b] == band_vals[qi][b] for b in range(4))}
        scored = sorted(
            ((float(X[qi] @ X[by_id[c]] / (norms[qi] * norms[by_id[c]])), c)
             for c in cands),
            key=lambda t: (-t[0], t[1]))
        for rank, (cos, c) in enumerate(scored[:5], start=1):
            expected.append((q, c, rank, cos))
    got = rows_as_tuples(similarity_ann_rp_det(spark, sf_dir),
                         ["query_id", "neighbor_id", "rank", "cosine"])
    assert [r[:3] for r in got] == [r[:3] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[3] - e[3]) < TOL


def test_hybrid_rrf_matches_python(spark, sf_dir):
    """Hybrid retrieval recomputed structure-free: distinct-3-shingle
    overlap counts -> lexical ranks; float cosine (rounded 6) ->
    semantic ranks; RRF = 1/(60+r) summed over the pools a doc appears
    in; fused top-10 per query. Ranks and the fused order are exact
    integers / two-term IEEE sums, so the compare is equality."""
    from mapreducewordcounting_spark.operators.similarity import (
        N_QUERIES,
        RRF_K,
        RRF_POOL,
        RRF_TOPK,
        similarity_hybrid_rrf,
    )

    toks = doc_tokens(sf_dir)
    sh = {d: set(word_ngrams(t, 3)) for d, t in toks.items()}
    lex_rank: dict[tuple[int, int], int] = {}
    for q in (i for i in sorted(sh) if i < N_QUERIES):
        pool = sorted(((len(sh[q] & sh[d]), d) for d in sorted(sh)
                       if d != q and sh[q] & sh[d]),
                      key=lambda x: (-x[0], x[1]))[:RRF_POOL]
        for r, (_, d) in enumerate(pool, 1):
            lex_rank[(q, d)] = r

    emb = {r["vec_id"]: [float(x) for x in r["embedding"]]
           for r in load_table_rows(sf_dir, "embeddings")}
    norm = {d: math.sqrt(sum(x * x for x in v)) for d, v in emb.items()}
    sem_rank: dict[tuple[int, int], int] = {}
    for q in (i for i in sorted(emb) if i < N_QUERIES):
        pool = sorted(
            ((round6(sum(a * b for a, b in zip(emb[q], emb[d]))
                     / (norm[q] * norm[d])), d)
             for d in sorted(emb) if d != q),
            key=lambda x: (-x[0], x[1]))[:RRF_POOL]
        for r, (_, d) in enumerate(pool, 1):
            sem_rank[(q, d)] = r

    by_q: dict[int, list] = defaultdict(list)
    for (q, d) in set(lex_rank) | set(sem_rank):
        lr = lex_rank.get((q, d))
        sr = sem_rank.get((q, d))
        rrf = ((1.0 / (RRF_K + lr) if lr else 0.0)
               + (1.0 / (RRF_K + sr) if sr else 0.0))
        by_q[q].append((rrf, d, lr, sr))
    expected = []
    for q, lst in by_q.items():
        lst.sort(key=lambda x: (-x[0], x[1]))
        for r, (rrf, d, lr, sr) in enumerate(lst[:RRF_TOPK], 1):
            expected.append((q, d, lr, sr, rrf, r))
    got = rows_as_tuples(
        similarity_hybrid_rrf(spark, sf_dir),
        ["query_id", "doc_id", "lex_rank", "sem_rank",
         "rrf_score", "fused_rank"])
    assert got == sorted(expected)


def test_bpe_merges_match_python(spark, sf_dir):
    """The distributed BPE learner must reproduce textbook BPE run in
    plain Python: word counts (len >= 2) -> 8 rounds of (argmax
    weighted adjacent pair, ties (left, right) ascending) + greedy
    left-to-right fusion."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        BPE_N_MERGES,
        text_bpe_learn_merges,
    )

    vocab = Counter()
    for toks in doc_tokens(sf_dir).values():
        vocab.update(w for w in toks if len(w) >= 2)
    words = {w: (list(w), n) for w, n in vocab.items()}
    expected = []
    for rank in range(1, BPE_N_MERGES + 1):
        counts: Counter = Counter()
        for syms, n in words.values():
            for j in range(len(syms) - 1):
                counts[(syms[j], syms[j + 1])] += n
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, left, right, left + right, n))
        for w, (syms, wn) in words.items():
            out, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == left
                        and syms[i + 1] == right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, wn)
    got = rows_as_tuples(
        text_bpe_learn_merges(spark, sf_dir),
        ["rank", "left", "right", "merged", "pair_count"])
    assert got == sorted(expected)


def test_bigram_logprob_matches_python(spark, sf_dir):
    """Interpolated bigram LM (lambda=0.8, unigram back-off)
    recomputed in plain Python."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        LM_LAMBDA,
        text_bigram_logprob,
    )

    toks = doc_tokens(sf_dir)
    uni: Counter = Counter()
    for t in toks.values():
        uni.update(t)
    total = sum(uni.values())
    c12: Counter = Counter()
    c1: Counter = Counter()
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    expected = []
    for d, t in toks.items():
        pairs = list(zip(t, t[1:]))
        if not pairs:
            continue
        avg = sum(
            math.log(LM_LAMBDA * c12[(a, b)] / c1[a]
                     + (1.0 - LM_LAMBDA) * uni[b] / total)
            for a, b in pairs) / len(pairs)
        expected.append((d, len(pairs), avg))
    got = rows_as_tuples(text_bigram_logprob(spark, sf_dir),
                         ["doc_id", "n_bigrams", "avg_logprob"])
    assert [r[:2] for r in got] == [r[:2] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[2] - e[2]) < TOL


def test_gini_lorenz_matches_python(spark, sf_dir):
    """Sorted-rank Gini identity + bottom-half share recomputed in
    plain Python over integer cents."""
    from mapreducewordcounting_spark.operators.stats import (
        agg_gini_lorenz,
    )

    by_seg: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for r in load_table_rows(sf_dir, "customer"):
        cents = round6(r["c_acctbal"] * 100)  # exact .5 ties: half-up
        by_seg[r["c_mktsegment"]].append(
            (int(round(cents)), r["c_custkey"]))
    expected = []
    for seg, rows in by_seg.items():
        rows.sort()
        n = len(rows)
        s = sum(c for c, _ in rows)
        s1 = sum(i * c for i, (c, _) in enumerate(rows, 1))
        gini = (2.0 * s1) / (n * s) - (n + 1.0) / n
        bottom = sum(c for c, _ in rows[: n // 2]) / s
        expected.append((seg, n, s, gini, bottom))
    got = rows_as_tuples(
        agg_gini_lorenz(spark, sf_dir),
        ["seg", "n_customers", "total_cents", "gini",
         "bottom_half_share"])
    assert [r[:3] for r in got] == [r[:3] for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        assert abs(g[3] - e[3]) < TOL and abs(g[4] - e[4]) < TOL


def test_anomaly_iqr_matches_python(spark, sf_dir):
    """Tukey fences recomputed with numpy linear percentiles and the
    shared 1.5-IQR rule on round-6 quartiles."""
    from mapreducewordcounting_spark.operators.profiling import (
        dq_anomaly_iqr,
    )

    by_type: dict[str, list[float]] = defaultdict(list)
    for r in load_table_rows(sf_dir, "events"):
        by_type[r["event_type"]].append(float(r["value"]))
    expected = []
    for t, vals in by_type.items():
        q1 = round6(float(np.percentile(vals, 25)))
        q3 = round6(float(np.percentile(vals, 75)))
        iqr = q3 - q1
        n_out = sum(1 for v in vals
                    if v < q1 - 1.5 * iqr or v > q3 + 1.5 * iqr)
        expected.append((t, q1, q3, round6(iqr), n_out))
    got = rows_as_tuples(dq_anomaly_iqr(spark, sf_dir),
                         ["event_type", "q1", "q3", "iqr", "n_outliers"])
    assert [(r[0], r[4]) for r in got] == [
        (r[0], r[4]) for r in sorted(expected)]
    for g, e in zip(got, sorted(expected)):
        for i in (1, 2, 3):
            assert abs(g[i] - e[i]) < TOL


def test_mutual_information_matches_python(spark, sf_dir):
    """MI over the (event_type, day-of-week) contingency table
    recomputed from raw counts in plain Python."""
    from mapreducewordcounting_spark.operators.profiling import (
        profile_mutual_information,
    )

    joint: Counter = Counter()
    for r in load_table_rows(sf_dir, "events"):
        joint[(r["event_type"], r["ts"].isoweekday() % 7)] += 1
    n = sum(joint.values())
    mx: Counter = Counter()
    my: Counter = Counter()
    for (x, y), c in joint.items():
        mx[x] += c
        my[y] += c
    mi = sum((c / n) * math.log((c * n) / (mx[x] * my[y]))
             for (x, y), c in joint.items())
    got = rows_as_tuples(
        profile_mutual_information(spark, sf_dir),
        ["mutual_info_nats", "n_cells", "n_events"])
    assert got[0][1] == len(joint) and got[0][2] == n
    assert abs(got[0][0] - mi) < TOL


def test_luhn_validate_matches_python(spark, sf_dir):
    """Card synthesis + textbook Luhn mod-10 (ISO/IEC 7812) recomputed
    in plain Python, asserting per-priority valid counts."""
    from mapreducewordcounting_spark.operators.training_ops import (
        pii_luhn_validate,
    )

    def luhn_ok(card: str) -> bool:
        s = 0
        for p in range(16):
            d = int(card[15 - p])
            if p % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            s += d
        return s % 10 == 0

    from collections import Counter
    n_cards: Counter = Counter()
    n_valid: Counter = Counter()
    for o in load_table_rows(sf_dir, "orders"):
        card = (str(o["o_orderkey"] % 100000000).zfill(8)
                + str(o["o_custkey"] % 10000).zfill(4)
                + str((o["o_orderkey"] * 7 + o["o_custkey"] * 3)
                      % 10000).zfill(4))
        n_cards[o["o_orderpriority"]] += 1
        n_valid[o["o_orderpriority"]] += luhn_ok(card)
    expected = sorted((k, n_cards[k], n_valid[k]) for k in n_cards)
    got = rows_as_tuples(pii_luhn_validate(spark, sf_dir),
                         ["o_orderpriority", "n_cards", "n_valid"])
    assert got == expected
    assert sum(r[2] for r in got) > 0, "some cards must Luhn-validate"


def test_lm_buckets_match_python(spark, sf_dir):
    """CCNet bucket rollup recomputed in plain Python on top of the
    same textbook bigram LM the scorer differential rebuilds — the
    bucket layer (fixed cut points on the round-6 score + integer
    counting) is verified end-to-end, not just the embedded scorer."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        LM_LAMBDA,
        PPL_HEAD_LOGPROB,
        PPL_MID_LOGPROB,
        quality_lm_buckets,
    )

    docs = load_documents(sf_dir)
    toks = {d["doc_id"]: canon_tokens(d["text"]) for d in docs}
    src = {d["doc_id"]: d["source"] for d in docs}
    uni: Counter = Counter()
    for t in toks.values():
        uni.update(t)
    total = sum(uni.values())
    c12: Counter = Counter()
    c1: Counter = Counter()
    for t in toks.values():
        for a, b in zip(t, t[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    n_docs: Counter = Counter()
    n_bi: Counter = Counter()
    for d, t in toks.items():
        pairs = list(zip(t, t[1:]))
        if not pairs:
            continue
        avg = round6(sum(
            math.log(LM_LAMBDA * c12[(a, b)] / c1[a]
                     + (1.0 - LM_LAMBDA) * uni[b] / total)
            for a, b in pairs) / len(pairs))
        bucket = ("head" if avg > PPL_HEAD_LOGPROB
                  else "middle" if avg > PPL_MID_LOGPROB else "tail")
        n_docs[(src[d], bucket)] += 1
        n_bi[(src[d], bucket)] += len(pairs)
    expected = sorted((s, b, n, n_bi[(s, b)])
                      for (s, b), n in n_docs.items())
    got = rows_as_tuples(quality_lm_buckets(spark, sf_dir),
                         ["source", "ppl_bucket", "n_docs", "n_bigrams"])
    assert got == expected
    assert len({r[1] for r in got}) == 3, "all three buckets populated"


def test_benford_distribution_matches_python(spark, sf_dir):
    """Benford expectation + chi-square terms recomputed with plain
    math.log over integer digit counts."""
    from mapreducewordcounting_spark.operators.profiling import (
        dq_benford_distribution,
    )

    obs: Counter = Counter()
    for o in load_table_rows(sf_dir, "orders"):
        obs[int(str(int(math.floor(o["o_totalprice"])))[0])] += 1
    total = sum(obs.values())
    expected = []
    for d, n in obs.items():
        e = total * math.log(1 + 1.0 / d) / math.log(10)
        expected.append((d, n, round6(e), round6((n - e) ** 2 / e)))
    got = rows_as_tuples(dq_benford_distribution(spark, sf_dir),
                         ["digit", "n_obs", "expected_n", "chi2_term"])
    assert got == sorted(expected)
    assert 2 <= len(got) <= 9


# ------------------------------------------- round-9 batch (continued)


def test_ann_ivf_matches_python(spark, sf_dir):
    """similarity_ann_ivf: recompute the whole two-stage IVF probe
    (fixed-ANN_NLIST stride centroid seeding, top-1 assignment,
    nprobe=2 routing, exact cosine re-rank) from raw parquet in
    numpy."""
    from mapreducewordcounting_spark.operators.similarity import (
        ANN_NLIST,
        similarity_ann_ivf,
        similarity_ann_ivf_pruned,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    step = max(len(vecs) // ANN_NLIST, 1)
    cents = {i: v for i, v in vecs.items()
             if i % step == 0 and i < step * ANN_NLIST}

    def probed(vid, n):
        scored = sorted(((cos(vecs[vid], cv), cid)
                         for cid, cv in cents.items()),
                        key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in scored[:n]]

    cell_of = {vid: probed(vid, 1)[0] for vid in vecs}
    expected = []
    for q in sorted(v for v in vecs if v < 10):
        cand = [(cos(vecs[q], vecs[c]), c) for c in vecs
                if c != q and cell_of[c] in probed(q, 2)]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expected += [(q, c, rk + 1, s)
                     for rk, (s, c) in enumerate(cand[:5])]
    expected.sort()
    # the pruned at-rest form shares the output contract exactly, so
    # the same structure-free replay covers both (r12)
    for fn in (similarity_ann_ivf, similarity_ann_ivf_pruned):
        got = rows_as_tuples(fn(spark, sf_dir),
                             ["query_id", "neighbor_id", "rank",
                              "cosine"])
        assert [g[:3] for g in got] == [e[:3] for e in expected]
        for g, e in zip(got, expected):
            assert abs(g[3] - e[3]) < TOL


def test_ann_anchor_graph_matches_python(spark, sf_dir):
    """similarity_ann_anchor_graph: recompute the full graph-routed
    probe (fixed-ANN_NLIST stride anchors, degree-3 adjacency, top-1
    assignment, entry + one-hop cell expansion, exact cosine re-rank)
    from raw parquet in numpy."""
    from mapreducewordcounting_spark.operators.similarity import (
        ANN_NLIST,
        similarity_ann_anchor_graph,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    step = max(len(vecs) // ANN_NLIST, 1)
    anchors = {i: v for i, v in vecs.items()
               if i % step == 0 and i < step * ANN_NLIST}

    def nearest_anchors(vec, n, exclude=None):
        scored = sorted(((cos(vec, av), aid)
                         for aid, av in anchors.items()
                         if aid != exclude),
                        key=lambda t: (-t[0], t[1]))
        return [aid for _, aid in scored[:n]]

    edges = {aid: nearest_anchors(av, 3, exclude=aid)
             for aid, av in anchors.items()}
    cell_of = {vid: nearest_anchors(v, 1)[0] for vid, v in vecs.items()}
    expected = []
    for q in sorted(v for v in vecs if v < 10):
        probe = {cell_of[q], *edges[cell_of[q]]}
        cand = [(cos(vecs[q], vecs[c]), c) for c in vecs
                if c != q and cell_of[c] in probe]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expected += [(q, c, rk + 1, s)
                     for rk, (s, c) in enumerate(cand[:5])]
    got = rows_as_tuples(similarity_ann_anchor_graph(spark, sf_dir),
                         ["query_id", "neighbor_id", "rank", "cosine"])
    expected.sort()
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL


def test_dp_laplace_matches_python(spark, sf_dir):
    """privacy_dp_laplace_det: recompute the md5-seeded uniform and
    the Laplace inverse CDF with hashlib + math on the raw tables."""
    from mapreducewordcounting_spark.operators.training_ops import (
        privacy_dp_laplace_det,
    )

    cust = Counter(r["c_nationkey"]
                   for r in load_table_rows(sf_dir, "customer"))
    expected = []
    for n in load_table_rows(sf_dir, "nation"):
        true_n = cust.get(n["n_nationkey"], 0)
        u = (int(_md5("dp:" + n["n_name"])[:13], 16) + 0.5) / 2.0 ** 52
        noise = -math.copysign(1.0, u - 0.5) * math.log(
            1.0 - 2.0 * abs(u - 0.5))
        expected.append((n["n_name"], true_n, noise, true_n + noise))
    expected.sort()
    got = rows_as_tuples(privacy_dp_laplace_det(spark, sf_dir),
                         ["n_name", "true_n", "noise", "released_n"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL and abs(g[3] - e[3]) < TOL


def test_cusum_changepoint_matches_python(spark, sf_dir):
    """time_cusum_changepoint: recompute daily counts, the mean, the
    running CUSUM and the arg-max day in plain Python."""
    from mapreducewordcounting_spark.operators.drift import (
        time_cusum_changepoint,
    )

    daily: dict[str, Counter] = defaultdict(Counter)
    for e in load_table_rows(sf_dir, "events"):
        daily[e["event_type"]][e["ts"].date()] += 1
    expected = []
    for et, cnt in daily.items():
        days = sorted(cnt)
        mu = sum(cnt.values()) / len(days)
        s, best = 0.0, None
        for d in days:
            s += cnt[d] - mu
            if best is None or abs(s) > best[0] + 1e-12:
                best = (abs(s), d)
        expected.append((et, best[1], best[0], mu, len(days)))
    expected.sort()
    got = rows_as_tuples(time_cusum_changepoint(spark, sf_dir),
                         ["event_type", "cp_day", "max_abs_cusum",
                          "mean_daily", "n_days"])
    assert [(g[0], g[1], g[4]) for g in got] == \
        [(e[0], e[1], e[4]) for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL and abs(g[3] - e[3]) < TOL


def test_zipf_slope_matches_python(spark, sf_dir):
    """text_zipf_slope: recompute the per-lang rank/frequency OLS fit
    from raw tokens in plain Python."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_zipf_slope,
    )

    per_lang: dict[str, Counter] = defaultdict(Counter)
    for d in load_documents(sf_dir):
        per_lang[d["lang"]].update(canon_tokens(d["text"]))
    expected = []
    for lang, cnt in per_lang.items():
        ranked = sorted(cnt.items(), key=lambda t: (-t[1], t[0]))
        xs = [math.log(i + 1) for i in range(len(ranked))]
        ys = [math.log(c) for _, c in ranked]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        expected.append((lang, n, slope, (sy - slope * sx) / n))
    expected.sort()
    got = rows_as_tuples(text_zipf_slope(spark, sf_dir),
                         ["lang", "n_words", "zipf_slope",
                          "zipf_intercept"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL and abs(g[3] - e[3]) < TOL


def test_skyline_dominance_matches_python(spark, sf_dir):
    """part_skyline_dominance: the oracle is already an independent
    NOT EXISTS formulation; this third opinion brute-forces pairwise
    dominance in plain Python."""
    from mapreducewordcounting_spark.operators.relational import (
        part_skyline_dominance,
    )

    parts = [(p["p_partkey"], p["p_retailprice"], p["p_size"])
             for p in load_table_rows(sf_dir, "part")]
    expected = sorted(
        (k, pr, sz) for k, pr, sz in parts
        if not any(qr <= pr and qs <= sz and (qr < pr or qs < sz)
                   for _, qr, qs in parts))
    got = rows_as_tuples(part_skyline_dominance(spark, sf_dir),
                         ["p_partkey", "p_retailprice", "p_size"])
    assert got == expected


def test_linear_multi_touch_matches_python(spark, sf_dir):
    """attribution_linear_multi_touch: recompute per-purchase touch
    sets and the 1/n credit split in plain Python."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        attribution_linear_multi_touch,
    )

    by_user: dict[int, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        by_user[e["user_id"]].append(e)
    week_us = 7 * 24 * 3600 * 1_000_000

    def us(ts):
        return (ts - type(ts)(1970, 1, 1)).total_seconds() * 1e6

    credit: dict[str, float] = defaultdict(float)
    n_purch: dict[str, set] = defaultdict(set)
    for evs in by_user.values():
        purchases = [e for e in evs if e["event_type"] == "purchase"]
        touches = [e for e in evs if e["event_type"] in ("click", "view")]
        for p in purchases:
            pt = round(us(p["ts"]))
            live = [t for t in touches
                    if (round(us(t["ts"])), t["event_id"])
                    < (pt, p["event_id"])
                    and pt - round(us(t["ts"])) <= week_us]
            if not live:
                credit["direct"] += 1.0
                n_purch["direct"].add(p["event_id"])
                continue
            for t in live:
                credit[t["event_type"]] += 1.0 / len(live)
                n_purch[t["event_type"]].add(p["event_id"])
    expected = sorted((ch, credit[ch], len(n_purch[ch]))
                      for ch in credit)
    got = rows_as_tuples(attribution_linear_multi_touch(spark, sf_dir),
                         ["channel", "credit", "n_purchases"])
    assert [(g[0], g[2]) for g in got] == \
        [(e[0], e[2]) for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[1] - e[1]) < TOL


def test_pq_codes_match_python(spark, sf_dir):
    """embedding_pq_codes: recompute codebook assignment and
    reconstruction error per subspace in numpy."""
    from mapreducewordcounting_spark.operators.similarity import (
        embedding_pq_codes,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}
    cb = {i: v for i, v in vecs.items() if i % 100 == 0}
    expected = []
    for vid, v in vecs.items():
        codes, err = [], 0.0
        for s in range(4):
            seg = slice(16 * s, 16 * (s + 1))
            d, c = min((float(np.sum((v[seg] - cv[seg]) ** 2)), cid)
                       for cid, cv in cb.items())
            codes.append(c)
            err += d
        expected.append((vid, *codes, err))
    expected.sort()
    got = rows_as_tuples(embedding_pq_codes(spark, sf_dir),
                         ["vec_id", "code_0", "code_1", "code_2",
                          "code_3", "recon_err"])
    assert [g[:5] for g in got] == [e[:5] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[5] - e[5]) < TOL


def test_wilson_ci_matches_python(spark, sf_dir):
    """dq_wilson_ci: recompute the interval from raw joined rows."""
    from mapreducewordcounting_spark.operators.profiling import (
        dq_wilson_ci,
    )

    sup = {s["s_suppkey"]: s["s_nationkey"]
           for s in load_table_rows(sf_dir, "supplier")}
    nat = {n["n_nationkey"]: n["n_name"]
           for n in load_table_rows(sf_dir, "nation")}
    n_tot: Counter = Counter()
    n_ret: Counter = Counter()
    for li in load_table_rows(sf_dir, "lineitem"):
        name = nat[sup[li["l_suppkey"]]]
        n_tot[name] += 1
        if li["l_returnflag"] == "R":
            n_ret[name] += 1
    z = 1.96
    expected = []
    for name, n in n_tot.items():
        k = n_ret[name]
        p = k / n
        center = p + z * z / (2 * n)
        half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        den = 1 + z * z / n
        expected.append((name, n, k, p,
                         (center - half) / den, (center + half) / den))
    expected.sort()
    got = rows_as_tuples(dq_wilson_ci(spark, sf_dir),
                         ["n_name", "n", "k", "return_rate",
                          "wilson_lo", "wilson_hi"])
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        for j in (3, 4, 5):
            assert abs(g[j] - e[j]) < TOL


def test_ewma_smooth_matches_python(spark, sf_dir):
    """window_ewma_smooth: recompute the trailing-10 adjusted EWMA
    per user in plain Python."""
    from mapreducewordcounting_spark.operators.windows import (
        window_ewma_smooth,
    )

    by_user: dict[int, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        by_user[e["user_id"]].append(e)
    expected = []
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        for i, e in enumerate(evs):
            frame = [x["value"] for x in evs[max(0, i - 9):i + 1]]
            n = len(frame)
            num = sum(x * 0.7 ** (n - 1 - j) for j, x in enumerate(frame))
            den = (1 - 0.7 ** n) / 0.3
            expected.append((e["event_id"], uid, num / den))
    expected.sort()
    got = rows_as_tuples(window_ewma_smooth(spark, sf_dir),
                         ["event_id", "user_id", "ewma"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL


def test_seasonal_decompose_matches_python(spark, sf_dir):
    """time_seasonal_decompose: recompute daily counts, the centered
    MA trend, weekday seasonal means and remainders in plain Python.
    (At sf0.001 the series is shorter than the 7-day window, so trend
    and seasonal are all-NULL — the edge policy itself.)"""
    from mapreducewordcounting_spark.operators.temporal import (
        time_seasonal_decompose,
    )

    cnt: Counter = Counter()
    for e in load_table_rows(sf_dir, "events"):
        cnt[e["ts"].date()] += 1
    days = sorted(cnt)
    trend = {}
    for i, d in enumerate(days):
        if 3 <= i <= len(days) - 4:
            trend[d] = sum(cnt[days[j]] for j in
                           range(i - 3, i + 4)) / 7
    det = {d: cnt[d] - trend[d] for d in trend}
    by_dow: dict[int, list] = defaultdict(list)
    for d, v in det.items():
        by_dow[d.isoweekday() % 7].append(v)  # 0 = Sunday
    seas = {k: sum(v) / len(v) for k, v in by_dow.items()}
    expected = []
    for d in days:
        t = trend.get(d)
        # seasonal joins per dow even on edge days (trend NULL there);
        # remainder needs both detrended and seasonal to be non-NULL
        s = seas.get(d.isoweekday() % 7)
        r = det[d] - s if (d in det and s is not None) else None
        expected.append((d, cnt[d], t, s, r))
    expected.sort()
    got = rows_as_tuples(time_seasonal_decompose(spark, sf_dir),
                         ["day", "n", "trend", "seasonal", "remainder"])
    assert [(g[0], g[1]) for g in got] == \
        [(e[0], e[1]) for e in expected]
    for g, e in zip(got, expected):
        for j in (2, 3, 4):
            if e[j] is None:
                assert g[j] is None
            else:
                assert abs(g[j] - e[j]) < TOL


def test_stratified_neyman_matches_python(spark, sf_dir):
    """sample_stratified_neyman: recompute weights, floors and the
    largest-remainder top-up in plain Python."""
    from mapreducewordcounting_spark.operators.training_ops import (
        sample_stratified_neyman,
    )

    strata: dict[str, list] = defaultdict(list)
    for d in load_documents(sf_dir):
        strata[d["source"]].append(d["n_chars"])
    B = 100
    rows = []
    for src in sorted(strata):
        xs = strata[src]
        n = len(xs)
        var = (sum(x * x for x in xs) - sum(xs) ** 2 / n) / n
        sd = math.sqrt(var)
        rows.append([src, n, sd, n * sd])
    total = 0.0
    for r in rows:  # left-to-right fold in source order, as documented
        total += r[3]
    floors = [(r[0], r[1], r[2], int(B * r[3] / total),
               B * r[3] / total - int(B * r[3] / total)) for r in rows]
    leftover = B - sum(f[3] for f in floors)
    order = sorted(floors, key=lambda f: (-f[4], f[0]))
    topped = {f[0] for f in order[:leftover]}
    expected = sorted((f[0], f[1], f[2], f[3] + (1 if f[0] in topped
                                                 else 0))
                      for f in floors)
    got = rows_as_tuples(sample_stratified_neyman(spark, sf_dir),
                         ["source", "n_docs", "char_sd", "quota"])
    assert [(g[0], g[1], g[3]) for g in got] == \
        [(e[0], e[1], e[3]) for e in expected]
    assert sum(g[3] for g in got) == B
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL


def test_time_to_convert_matches_python(spark, sf_dir):
    """events_time_to_convert: pure-Python first-signup /
    first-purchase walk with exact discrete quantiles."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        events_time_to_convert,
    )

    by_user: dict[int, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        by_user[e["user_id"]].append(e)

    def us(ts):
        return round((ts - type(ts)(1970, 1, 1)).total_seconds() * 1e6)

    import datetime as dt
    cohorts: dict[dt.date, list] = defaultdict(lambda: [0, []])
    for evs in by_user.values():
        sus = sorted((us(e["ts"]), e["event_id"])
                     for e in evs if e["event_type"] == "signup")
        if not sus:
            continue
        s = sus[0]
        d = dt.datetime.fromtimestamp(s[0] / 1e6, dt.timezone.utc).date()
        week = d - dt.timedelta(days=d.isoweekday() - 1)
        cohorts[week][0] += 1
        pts = sorted((us(e["ts"]), e["event_id"])
                     for e in evs if e["event_type"] == "purchase")
        after = [p for p in pts if p > s]
        if after:
            cohorts[week][1].append(after[0][0] - s[0])

    def qdisc(vals, p):
        vals = sorted(vals)
        return vals[math.ceil(p * len(vals)) - 1]

    expected = []
    for week, (n_s, deltas) in cohorts.items():
        if deltas:
            expected.append((week, n_s, len(deltas), len(deltas) / n_s,
                             qdisc(deltas, 0.5) / 3.6e9,
                             qdisc(deltas, 0.9) / 3.6e9))
        else:
            expected.append((week, n_s, 0, 0.0, None, None))
    expected.sort()
    got = rows_as_tuples(events_time_to_convert(spark, sf_dir),
                         ["cohort_week", "n_signups", "n_converted",
                          "conversion_rate", "p50_hours", "p90_hours"])
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        for j in (3, 4, 5):
            if e[j] is None:
                assert g[j] is None
            else:
                assert abs(g[j] - e[j]) < TOL


def test_late_arrival_audit_matches_python(spark, sf_dir):
    """dq_late_arrival_audit: replay each event-type stream in
    arrival order with a running high-water mark in plain Python."""
    from mapreducewordcounting_spark.operators.profiling import (
        dq_late_arrival_audit,
    )

    def us(ts):
        return round((ts - type(ts)(1970, 1, 1)).total_seconds() * 1e6)

    streams: dict[str, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        streams[e["event_type"]].append((e["event_id"], us(e["ts"])))
    delay = 10 * 60 * 1_000_000
    expected = []
    for et, evs in streams.items():
        evs.sort()
        hwm, n_late, worst = None, 0, 0
        for _, t in evs:
            if hwm is not None and t < hwm - delay:
                n_late += 1
                worst = max(worst, (hwm - delay - t) // 1_000_000)
            hwm = t if hwm is None else max(hwm, t)
        expected.append((et, len(evs), n_late, n_late / len(evs), worst))
    expected.sort()
    got = rows_as_tuples(dq_late_arrival_audit(spark, sf_dir),
                         ["event_type", "n_total", "n_late",
                          "late_ratio", "max_lateness_sec"])
    assert [(g[0], g[1], g[2], g[4]) for g in got] == \
        [(e[0], e[1], e[2], e[4]) for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL


def test_theil_index_matches_python(spark, sf_dir):
    """agg_theil_index: recompute the decomposable inequality index
    from raw balances in plain Python."""
    from mapreducewordcounting_spark.operators.stats import (
        agg_theil_index,
    )

    segs: dict[str, list] = defaultdict(list)
    for c in load_table_rows(sf_dir, "customer"):
        cents = round(c["c_acctbal"] * 100)
        if cents > 0:
            segs[c["c_mktsegment"]].append(cents)
    expected = []
    for seg, xs in segs.items():
        n = len(xs)
        mu = sum(xs) / n
        t = sum((x / mu) * math.log(x / mu) for x in xs) / n
        expected.append((seg, n, mu / 100, t))
    expected.sort()
    got = rows_as_tuples(agg_theil_index(spark, sf_dir),
                         ["seg", "n_pos", "mean_balance", "theil_t"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL and abs(g[3] - e[3]) < TOL


def test_anchored_vwap_matches_python(spark, sf_dir):
    """window_anchored_vwap: pure-Python session walk with Decimal
    price quantization."""
    import json
    from decimal import Decimal

    from mapreducewordcounting_spark.operators.windows import (
        window_anchored_vwap,
    )

    sessions: dict[tuple, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        sessions[(e["event_type"], e["ts"].date())].append(e)
    expected = []
    for evs in sessions.values():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        cum_pq, cum_q = Decimal(0), 0
        for e in evs:
            px = Decimal(repr(e["value"])).quantize(Decimal("1.000000"))
            qty = json.loads(e["props"])["k"]
            cum_pq += px * qty
            cum_q += qty
            expected.append((e["event_id"], cum_q,
                             float(cum_pq) / cum_q if cum_q else None))
    expected.sort()
    got = rows_as_tuples(window_anchored_vwap(spark, sf_dir),
                         ["event_id", "cum_qty", "vwap"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        if e[2] is None:
            assert g[2] is None
        else:
            assert abs(g[2] - e[2]) < TOL


def test_cdc_chunking_matches_python(spark, sf_dir):
    """dedup_cdc_chunking: hashlib re-implementation of the rolling
    window, cut mask, span slicing and per-source rollup."""
    from mapreducewordcounting_spark.operators.dedup import (
        dedup_cdc_chunking,
    )

    per_source: dict[str, list] = defaultdict(list)
    for d in load_documents(sf_dir):
        text = d["text"]
        if text is None:
            continue
        cuts = [p for p in range(8, len(text) + 1)
                if int(_md5(text[p - 8:p])[:8], 16) % 32 == 0]
        starts = [1] + [c + 1 for c in cuts]
        ends = cuts + ([len(text)] if len(text) >= starts[-1] else [])
        if len(ends) < len(starts):
            starts = starts[:len(ends)]
        for s, e in zip(starts, ends):
            per_source[d["source"]].append(
                (_md5(text[s - 1:e]), e - s + 1))
    expected = []
    for src, chunks in per_source.items():
        n = len(chunks)
        nd = len({c[0] for c in chunks})
        expected.append((src, n, nd, 1.0 - nd / n,
                         sum(c[1] for c in chunks) / n))
    expected.sort()
    got = rows_as_tuples(dedup_cdc_chunking(spark, sf_dir),
                         ["source", "n_chunks", "n_distinct",
                          "dedup_ratio", "avg_chunk_len"])
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL and abs(g[4] - e[4]) < TOL


def test_poisson_det_matches_python(spark, sf_dir):
    """sample_poisson_det: recompute the md5-seeded uniform and the
    Poisson(1) inverse CDF with hashlib + math."""
    from mapreducewordcounting_spark.operators.training_ops import (
        sample_poisson_det,
    )

    cum, acc = [], 0.0
    for j in range(8):
        acc += 1.0 / math.factorial(j)
        cum.append(math.exp(-1.0) * acc)

    per_source: dict[str, list] = defaultdict(list)
    for d in load_documents(sf_dir):
        u = (int(_md5(f"boot:{d['doc_id']}")[:13], 16) + 0.5) / 2.0 ** 52
        k = next((j for j, c in enumerate(cum) if u < c), 8)
        per_source[d["source"]].append(k)
    expected = sorted(
        (src, len(ks), sum(ks), sum(1 for k in ks if k == 0), max(ks))
        for src, ks in per_source.items())
    got = rows_as_tuples(sample_poisson_det(spark, sf_dir),
                         ["source", "n_docs", "resampled_docs",
                          "n_dropped", "max_multiplicity"])
    assert got == expected


def test_m4_downsample_matches_python(spark, sf_dir):
    """time_downsample_m4: pure-Python bucket walk."""
    from mapreducewordcounting_spark.operators.temporal import (
        time_downsample_m4,
    )

    buckets: dict[tuple, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        b = e["ts"].replace(minute=0, second=0, microsecond=0)
        b_s = int((b - type(b)(1970, 1, 1)).total_seconds())
        buckets[(e["event_type"], b_s)].append(
            (e["ts"], e["event_id"], e["value"]))
    expected = []
    for (et, b), pts in buckets.items():
        pts.sort(key=lambda p: (p[0], p[1]))
        vals = [p[2] for p in pts]
        expected.append((et, b, len(pts), pts[0][2], min(vals),
                         max(vals), pts[-1][2]))
    expected.sort()
    got = rows_as_tuples(time_downsample_m4(spark, sf_dir),
                         ["event_type", "bucket_s", "n_points",
                          "v_first", "v_min", "v_max", "v_last"])
    assert got == expected


def test_ngram_novelty_matches_python(spark, sf_dir):
    """text_ngram_novelty_curve: recompute shingle first occurrences
    and the decile rollup in plain Python."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_ngram_novelty_curve,
    )

    docs = load_documents(sf_dir)
    m = max(d["doc_id"] for d in docs) + 1
    per_doc = {}
    for d in docs:
        t = canon_tokens(d["text"])
        if len(t) >= 8:
            per_doc[d["doc_id"]] = set(word_ngrams(t, 8))
    first: dict[str, int] = {}
    for did in sorted(per_doc):
        for g in per_doc[did]:
            first.setdefault(g, did)
    agg: dict[int, list] = defaultdict(lambda: [0, 0, 0])
    for did, grams in per_doc.items():
        b = 10 * did // m
        agg[b][0] += 1
        agg[b][1] += len(grams)
        agg[b][2] += sum(1 for g in grams if first[g] == did)
    expected = sorted((b, n, tg, ng, ng / tg)
                      for b, (n, tg, ng) in agg.items())
    got = rows_as_tuples(text_ngram_novelty_curve(spark, sf_dir),
                         ["bucket", "n_docs", "total_grams",
                          "novel_grams", "novelty_rate"])
    assert [g[:4] for g in got] == [e[:4] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[4] - e[4]) < TOL


def test_ks_two_sample_matches_python(spark, sf_dir):
    """dq_ks_two_sample: recompute the split, both ECDFs and the KS
    statistic in plain Python."""
    from mapreducewordcounting_spark.operators.drift import (
        dq_ks_two_sample,
    )

    def sec(ts):
        return int((ts.replace(microsecond=0)
                    - type(ts)(1970, 1, 1)).total_seconds())

    evs = load_table_rows(sf_dir, "events")
    ss = [sec(e["ts"]) for e in evs]
    mid = (min(ss) + max(ss)) // 2
    per_type: dict[str, list] = defaultdict(list)
    for e in evs:
        per_type[e["event_type"]].append(
            (e["value"], sec(e["ts"]) <= mid))
    expected = []
    for et, rows in per_type.items():
        ref = sorted(v for v, r in rows if r)
        cur = sorted(v for v, r in rows if not r)
        if not ref or not cur:
            continue
        best = (0.0, None)
        for v in sorted({v for v, _ in rows}):
            import bisect
            d = abs(bisect.bisect_right(ref, v) / len(ref)
                    - bisect.bisect_right(cur, v) / len(cur))
            if d > best[0] + 1e-12:
                best = (d, v)
        crit = 1.358 * math.sqrt(
            (len(ref) + len(cur)) / (len(ref) * len(cur)))
        expected.append((et, len(ref), len(cur), best[0], crit,
                         best[0] > crit))
    expected.sort()
    got = rows_as_tuples(dq_ks_two_sample(spark, sf_dir),
                         ["event_type", "n_ref", "n_cur", "ks_d",
                          "crit_95", "drifted"])
    assert [(g[0], g[1], g[2], g[5]) for g in got] == \
        [(e[0], e[1], e[2], e[5]) for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL and abs(g[4] - e[4]) < TOL


def test_max_drawdown_matches_python(spark, sf_dir):
    """window_max_drawdown: pure-Python running-peak walk."""
    from mapreducewordcounting_spark.operators.windows import (
        window_max_drawdown,
    )

    by_user: dict[int, list] = defaultdict(list)
    for e in load_table_rows(sf_dir, "events"):
        by_user[e["user_id"]].append(e)
    expected = []
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        peak, best = None, None
        for e in evs:
            peak = e["value"] if peak is None else max(peak, e["value"])
            d = peak - e["value"]
            if best is None or d > best[0] + 1e-12:
                best = (d, e["event_id"])
        expected.append((uid, len(evs), best[0], best[1]))
    expected.sort()
    got = rows_as_tuples(window_max_drawdown(spark, sf_dir),
                         ["user_id", "n_events", "max_drawdown",
                          "at_event_id"])
    assert [(g[0], g[1], g[3]) for g in got] == \
        [(e[0], e[1], e[3]) for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL


def test_hashing_trick_matches_python(spark, sf_dir):
    """text_hashing_trick_det: hashlib recompute of the md5 mod-64
    bucket counts."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_hashing_trick_det,
    )

    agg: Counter = Counter()
    for d in load_documents(sf_dir):
        if d["doc_id"] >= 50:
            continue
        for w in canon_tokens(d["text"]):
            agg[(d["doc_id"], int(_md5(w)[:13], 16) % 64)] += 1
    expected = sorted((did, b, n) for (did, b), n in agg.items())
    got = rows_as_tuples(text_hashing_trick_det(spark, sf_dir),
                         ["doc_id", "bucket", "cnt"])
    assert got == expected


def test_lang_id_eval_matches_python(spark, sf_dir):
    """text_lang_id_eval: recompute the marker-score classifier and
    the confusion cells in plain Python."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        LANG_PROFILES,
        text_lang_id_eval,
    )

    cells: Counter = Counter()
    totals: Counter = Counter()
    order = ["en", "es", "de", "fr"]
    for d in load_documents(sf_dir):
        padded = f" {d['text']} "
        s = {lang: sum(m in padded for m in marks)
             for lang, marks in LANG_PROFILES.items()}
        guess = "fr"
        for i, lang in enumerate(order):
            if all(s[lang] >= s[o] for o in order[i + 1:]):
                guess = lang
                break
        cells[(d["lang"], guess)] += 1
        totals[d["lang"]] += 1
    expected = sorted(
        (lang, g, n, n / totals[lang]) for (lang, g), n in cells.items())
    got = rows_as_tuples(text_lang_id_eval(spark, sf_dir),
                         ["lang", "lang_guess", "n", "row_share"])
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL


def _trade_graph_python(sf_dir):
    """Undirected 1.1x-mean trade graph rebuilt in plain Python
    (dict joins over raw parquet — no SQL, no Spark)."""
    o2c = {o["o_orderkey"]: o["o_custkey"]
           for o in load_table_rows(sf_dir, "orders")}
    c2n = {c["c_custkey"]: c["c_nationkey"]
           for c in load_table_rows(sf_dir, "customer")}
    s2n = {s["s_suppkey"]: s["s_nationkey"]
           for s in load_table_rows(sf_dir, "supplier")}
    w: Counter = Counter()
    for li in load_table_rows(sf_dir, "lineitem"):
        src = c2n[o2c[li["l_orderkey"]]]
        dst = s2n[li["l_suppkey"]]
        w[(src, dst)] += 1
    thr = 1.1 * sum(w.values()) / len(w)
    nbrs: dict[int, set] = {}
    for (s, d), wt in w.items():
        if s != d and wt >= thr:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    return nbrs


def test_modularity_matches_python(spark, sf_dir):
    """graph_modularity_score: rebuild the graph, run 5 LPA sweeps and
    score Q entirely in plain Python."""
    from mapreducewordcounting_spark.operators.iterative import (
        graph_modularity_score,
    )

    nbrs = _trade_graph_python(sf_dir)
    lab = {n: n for n in nbrs}
    for _ in range(5):
        new = {}
        for n in nbrs:
            cnt = Counter(lab[m] for m in nbrs[n])
            best = max(cnt.values())
            new[n] = min(l for l, c in cnt.items() if c == best)
        lab = new
    two_m = sum(len(v) for v in nbrs.values())
    e_in = sum(1 for n in nbrs for m in nbrs[n] if lab[n] == lab[m])
    d_c: Counter = Counter()
    for n in nbrs:
        d_c[lab[n]] += len(nbrs[n])
    q = e_in / two_m - sum(d * d for d in d_c.values()) / (two_m * two_m)
    got = graph_modularity_score(spark, sf_dir).collect()[0]
    assert got.n_communities == len(set(lab.values()))
    assert got.n_edges == two_m // 2
    assert abs(got.modularity - q) < TOL


def test_hhi_matches_python(spark, sf_dir):
    """agg_hhi_concentration: recompute shares and the index from raw
    joined rows."""
    from mapreducewordcounting_spark.operators.stats import (
        agg_hhi_concentration,
    )

    s2n = {s["s_suppkey"]: s["s_nationkey"]
           for s in load_table_rows(sf_dir, "supplier")}
    n2r = {n["n_nationkey"]: n["n_regionkey"]
           for n in load_table_rows(sf_dir, "nation")}
    r2name = {r["r_regionkey"]: r["r_name"]
              for r in load_table_rows(sf_dir, "region")}
    rev: Counter = Counter()
    for li in load_table_rows(sf_dir, "lineitem"):
        region = r2name[n2r[s2n[li["l_suppkey"]]]]
        rev[(region, li["l_suppkey"])] += round(
            li["l_extendedprice"] * 100)
    per_region: dict[str, list] = defaultdict(list)
    for (region, _), cents in rev.items():
        per_region[region].append(cents)
    expected = sorted(
        (region, len(cs),
         10000 * sum((c / sum(cs)) ** 2 for c in cs))
        for region, cs in per_region.items())
    got = rows_as_tuples(agg_hhi_concentration(spark, sf_dir),
                         ["region", "n_suppliers", "hhi"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < 1e-4  # hhi is x1e4 scaled


def test_autocorr_lag_matches_python(spark, sf_dir):
    """time_autocorr_lag: calendar-true lag pairs + Pearson in plain
    Python."""
    from mapreducewordcounting_spark.operators.stats import (
        time_autocorr_lag,
    )
    import datetime as dt

    cnt: Counter = Counter()
    for e in load_table_rows(sf_dir, "events"):
        cnt[e["ts"].date()] += 1
    expected = []
    for k in (1, 7):
        pairs = [(cnt[d], cnt[d + dt.timedelta(days=k)])
                 for d in cnt if d + dt.timedelta(days=k) in cnt]
        m = len(pairs)
        if m == 0:
            continue
        sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        den = math.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
        expected.append((k, m,
                         (m * sxy - sx * sy) / den if den else None))
    expected.sort()
    got = rows_as_tuples(time_autocorr_lag(spark, sf_dir),
                         ["lag_days", "n_pairs", "autocorr"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        if e[2] is None:
            assert g[2] is None
        else:
            assert abs(g[2] - e[2]) < TOL


def test_stickiness_matches_python(spark, sf_dir):
    """events_stickiness: recompute DAU/MAU per month in plain Python."""
    from mapreducewordcounting_spark.operators.product_analytics import (
        events_stickiness,
    )

    du = {(e["ts"].date(), e["user_id"])
          for e in load_table_rows(sf_dir, "events")}
    dau: Counter = Counter()
    month_users: dict = defaultdict(set)
    for day, uid in du:
        dau[day] += 1
        month_users[day.replace(day=1)].add(uid)
    expected = []
    for month, users in month_users.items():
        days = [d for d in dau if d.replace(day=1) == month]
        avg = sum(dau[d] for d in days) / len(days)
        expected.append((month, len(days), len(users), avg,
                         avg / len(users)))
    expected.sort()
    got = rows_as_tuples(events_stickiness(spark, sf_dir),
                         ["month", "n_days", "mau", "avg_dau",
                          "stickiness"])
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL and abs(g[4] - e[4]) < TOL


def test_sttr_matches_python(spark, sf_dir):
    """text_sttr_diversity: recompute 50-token chunk TTRs in plain
    Python."""
    from mapreducewordcounting_spark.operators.text_analysis import (
        text_sttr_diversity,
    )

    expected = []
    for d in load_documents(sf_dir):
        t = canon_tokens(d["text"])
        k = len(t) // 50
        if k < 1:
            continue
        ttrs = [len(set(t[i * 50:(i + 1) * 50])) / 50 for i in range(k)]
        expected.append((d["doc_id"], k, sum(ttrs) / k))
    expected.sort()
    got = rows_as_tuples(text_sttr_diversity(spark, sf_dir),
                         ["doc_id", "n_chunks", "sttr"])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[2] - e[2]) < TOL


def test_ann_greedy_route_matches_python(spark, sf_dir):
    """similarity_ann_greedy_route: replay the full multi-hop walk —
    3 spread entries, degree-8 routing edges, 3 hops of beam-3
    expansion, best-visited + degree-3 probe, exact re-rank — from
    raw parquet in numpy."""
    from mapreducewordcounting_spark.operators.similarity import (
        ANN_NLIST,
        similarity_ann_greedy_route,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    step = max(len(vecs) // ANN_NLIST, 1)
    anchors = sorted(i for i in vecs
                     if i % step == 0 and i < step * ANN_NLIST)
    av = {a: vecs[a] for a in anchors}

    def knn(aid, n):
        scored = sorted(((cos(av[aid], av[b]), b)
                         for b in anchors if b != aid),
                        key=lambda t: (-t[0], t[1]))
        return [b for _, b in scored[:n]]

    redges = {a: knn(a, 8) for a in anchors}
    pedges = {a: knn(a, 3) for a in anchors}
    n_a = len(anchors)
    entries = [anchors[0], anchors[n_a // 3], anchors[(2 * n_a) // 3]]
    cell_of = {
        v: sorted(((cos(vecs[v], av[a]), a) for a in anchors),
                  key=lambda t: (-t[0], t[1]))[0][1]
        for v in vecs}

    expected = []
    for q in sorted(v for v in vecs if v < 10):
        frontier = list(entries)
        visited = set(entries)
        for _ in range(3):
            cands = set(frontier)
            for f in frontier:
                cands.update(redges[f])
            visited |= cands
            frontier = sorted(
                cands, key=lambda a: (-cos(vecs[q], av[a]), a))[:3]
        final = sorted(
            visited, key=lambda a: (-cos(vecs[q], av[a]), a))[0]
        probe = {final, *pedges[final]}
        cand = [(cos(vecs[q], vecs[c]), c) for c in vecs
                if c != q and cell_of[c] in probe]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expected += [(q, c, rk + 1, s)
                     for rk, (s, c) in enumerate(cand[:5])]
    got = rows_as_tuples(similarity_ann_greedy_route(spark, sf_dir),
                         ["query_id", "neighbor_id", "rank", "cosine"])
    expected.sort()
    assert [g[:3] for g in got] == [e[:3] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < TOL


def test_kmeans_det_matches_python(spark, sf_dir):
    """kmeans_embeddings_det: replay the fixed-3-iteration Lloyd loop
    — every floor(n/k)-th-vector seeding, argmin assignment with ties
    to the smallest cluster, empty clusters keeping their centroid —
    from raw parquet in numpy (float sums; the DECIMAL exactness is
    the DuckDB oracle's bit-level job, this test pins the structure)."""
    from mapreducewordcounting_spark.operators.iterative import (
        KM_DET_ITERS,
        KM_DET_K,
        kmeans_embeddings_det,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}
    n = len(vecs)
    step = max(n // KM_DET_K, 1)
    seeds = sorted(v for v in vecs if v % step == 0)[:KM_DET_K]
    cents = {i: vecs[s].copy() for i, s in enumerate(seeds)}

    def assign():
        out = {}
        for vid, v in vecs.items():
            dists = sorted(((float(((v - c) ** 2).sum()), cl)
                            for cl, c in cents.items()),
                           key=lambda t: (t[0], t[1]))
            out[vid] = (dists[0][1], dists[0][0])
        return out

    for _ in range(KM_DET_ITERS):
        a = assign()
        members: dict[int, list] = {}
        for vid, (cl, _) in a.items():
            members.setdefault(cl, []).append(vecs[vid])
        for cl, ms in members.items():
            cents[cl] = np.mean(np.stack(ms), axis=0)

    final = assign()
    expected = {}
    for vid, (cl, d) in final.items():
        e = expected.setdefault(cl, [0, None, 0.0])
        e[0] += 1
        e[1] = vid if e[1] is None else min(e[1], vid)
        e[2] += d
    got = rows_as_tuples(kmeans_embeddings_det(spark, sf_dir),
                         ["cluster", "n_members", "min_vec_id",
                          "cluster_inertia"])
    assert sorted(g[0] for g in got) == sorted(expected)
    for cl, n_m, mn, inertia in got:
        assert expected[cl][0] == n_m
        assert expected[cl][1] == mn
        assert abs(expected[cl][2] - inertia) < 1e-4


def test_pack_greedy_matches_python(spark, sf_dir):
    """pack_sequences_greedy: replay the per-language greedy fold —
    doc_id order, new pack when used > 0 and used + t > budget — from
    raw parquet with plain-regex token counts (structure-free: no
    shared fold encoding with the list_reduce oracle)."""
    import re as _re

    from mapreducewordcounting_spark.operators.training_ops import (
        PACK_BUDGET,
        pack_sequences_greedy,
    )

    by_lang: dict[str, list] = {}
    for r in load_table_rows(sf_dir, "documents"):
        n = sum(1 for t in _re.split(r"\s+", r["text"].lower())
                if _re.sub(r"[^a-z']", "", t))
        by_lang.setdefault(r["lang"], []).append((r["doc_id"], n))
    expected = {}
    for lang, items in by_lang.items():
        pid, used = 0, 0
        for doc_id, t in sorted(items):
            if used > 0 and used + t > PACK_BUDGET:
                pid, used = pid + 1, 0
            expected[(doc_id, lang)] = (t, pid)
            used += t
    got = rows_as_tuples(pack_sequences_greedy(spark, sf_dir),
                         ["doc_id", "lang", "n_tokens", "pack_id"])
    assert len(got) == len(expected)
    for doc_id, lang, n_tokens, pack_id in got:
        assert expected[(doc_id, lang)] == (n_tokens, pack_id), (
            doc_id, lang)


def test_binary_quant_matches_python(spark, sf_dir):
    """similarity_binary_quant: replay the sign-bit packing (32 dims
    per word), XOR+popcount Hamming prefilter (top 20, (hamming, id)
    ties) and exact cosine re-rank from raw parquet in numpy."""
    from mapreducewordcounting_spark.operators.similarity import (
        _BQ_CANDIDATES,
        similarity_binary_quant,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    def sig(v):
        return tuple(sum(1 << i for i in range(32)
                         if float(v[w * 32 + i]) > 0) for w in range(2))

    sigs = {vid: sig(v) for vid, v in vecs.items()}

    def hamming(a, b):
        return (bin(a[0] ^ b[0]).count("1")
                + bin(a[1] ^ b[1]).count("1"))

    expected = []
    for q in sorted(v for v in vecs if v < 10):
        pref = sorted(((hamming(sigs[q], sigs[c]), c) for c in vecs
                       if c != q))[:_BQ_CANDIDATES]
        rer = sorted(((cos(vecs[q], vecs[c]), h, c) for h, c in pref),
                     key=lambda t: (-t[0], t[2]))
        expected += [(q, c, rk + 1, h, s)
                     for rk, (s, h, c) in enumerate(rer[:5])]
    got = rows_as_tuples(similarity_binary_quant(spark, sf_dir),
                         ["query_id", "neighbor_id", "rank", "hamming",
                          "cosine"])
    expected.sort()
    assert [g[:4] for g in got] == [e[:4] for e in expected]
    for g, e in zip(got, expected):
        assert abs(g[4] - e[4]) < TOL


def test_ann_recall_report_matches_python(spark, sf_dir):
    """similarity_ann_recall_report (r13): recompute BOTH sides — the
    exact brute-force top-K and the two-stage IVF probe — from raw
    parquet in numpy, intersect per query, and compare hit counts and
    recall fractions."""
    from mapreducewordcounting_spark.operators.similarity import (
        ANN_NLIST,
        K,
        N_QUERIES,
        similarity_ann_recall_report,
    )

    rows = load_table_rows(sf_dir, "embeddings")
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}

    def cos(a, b):
        return float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b)))

    step = max(len(vecs) // ANN_NLIST, 1)
    cents = {i: v for i, v in vecs.items()
             if i % step == 0 and i < step * ANN_NLIST}

    def probed(vid, n):
        scored = sorted(((cos(vecs[vid], cv), cid)
                         for cid, cv in cents.items()),
                        key=lambda t: (-t[0], t[1]))
        return [cid for _, cid in scored[:n]]

    cell_of = {vid: probed(vid, 1)[0] for vid in vecs}
    expected = {}
    for q in sorted(v for v in vecs if v < N_QUERIES):
        ivf_cand = [(cos(vecs[q], vecs[c]), c) for c in vecs
                    if c != q and cell_of[c] in probed(q, 2)]
        ivf_cand.sort(key=lambda t: (-t[0], t[1]))
        ivf_top = {c for _, c in ivf_cand[:K]}
        bf_cand = [(cos(vecs[q], vecs[c]), c) for c in vecs if c != q]
        bf_cand.sort(key=lambda t: (-t[0], t[1]))
        bf_top = {c for _, c in bf_cand[:K]}
        expected[q] = len(ivf_top & bf_top)

    got = rows_as_tuples(similarity_ann_recall_report(spark, sf_dir),
                         ["query_id", "n_hits", "recall"])
    assert {g[0]: g[1] for g in got} == expected
    for _, n_hits, recall in got:
        assert abs(recall - n_hits / K) < TOL
