"""Tolerance/recall harnesses for the approximate operators
(SURVEY §7 hard-part 3: approximate-op verification methodology)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cobradb_spark import registry


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    # The query is self-grading: it emits the exact count plus the
    # |approx-exact|/exact <= 5% verdict the oracle asserts as `true`.
    out = registry.get_query("agg_approx_distinct").fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.exact_parts > 0
        assert r.approx_within_5pct is True


def test_approx_distinct_dedup_rewrite_equivalence(spark, sf_dir):
    """r15 rewrite invariant: running both aggregates over the DISTINCT
    (group, key) pairs is value-identical to the one-groupBy
    countDistinct + approx form — the HLL sketch is duplicate-insensitive
    and null-skipping count(key) over deduped pairs == countDistinct.
    Exercised on a synthetic frame WITH duplicates and nulls (the two
    hazards of the rewrite), not the fixture tables."""
    rows = [("a", 1), ("a", 1), ("a", 2), ("a", None), ("b", 7), ("b", 7),
            ("b", None), ("b", None), ("c", None)]
    df = spark.createDataFrame(rows, "g string, k int")
    old = df.groupBy("g").agg(
        F.countDistinct("k").alias("exact"),
        F.approx_count_distinct("k", rsd=0.01).alias("approx"),
    )
    pairs = df.select("g", "k").distinct()
    new = pairs.groupBy("g").agg(
        F.count("k").alias("exact"),
        F.approx_count_distinct("k", rsd=0.01).alias("approx"),
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    # and the registered query itself stays self-grading green
    out = registry.get_query("agg_approx_distinct").fn(spark, sf_dir).collect()
    assert all(r.approx_within_5pct is True for r in out)


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    """J4 contract: LSH top-10 must recall >= 0.8 of exact euclidean top-10."""
    import numpy as np

    ann = registry.get_query("sim_ann_lsh").fn(spark, sf_dir).collect()
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in registry.get_query("scan_parquet").fn(spark, sf_dir).sparkSession
           .read.parquet(f"{sf_dir}/embeddings.parquet").collect()}
    probes = {r.probe_id for r in ann}
    assert probes  # fixed probe set is non-empty
    recalls = []
    for p in probes:
        got = {r.neighbor_id for r in ann if r.probe_id == p}
        d = {v: float(np.linalg.norm(emb[p] - vec)) for v, vec in emb.items() if v != p}
        exact = {v for v, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:10]}
        recalls.append(len(got & exact) / 10)
    assert sum(recalls) / len(recalls) >= 0.8


def test_ann_ivf_hi_recall_curve_points(spark, sf_dir):
    """r9 VERDICT item 3: the _hi operating points (nlist=16, nprobe=8;
    PQ adds ksub=64 + shortlist=200 rerank) must clear their graded
    thresholds (0.75 IVF / 0.70 PQ) — the production end of the
    recall-vs-probe-cost curve, vs the 0.35/0.30 floors the cheap
    nprobe=2/nlist=8 keys pin."""
    for name in ("sim_ann_ivf_hi_graded", "sim_ann_ivf_pq_hi_graded"):
        rows = registry.get_query(name).fn(spark, sf_dir).collect()
        assert len(rows) == 1, name
        r = rows[0]
        assert r.n_probes > 0 and r.n_exact_rows == r.n_probes * 10
        assert r.recall_ok is True, name


def test_minhash_pairs_are_really_similar(spark, sf_dir):
    """J2: every reported near-dup pair must have true shingle-Jaccard
    within +/-0.25 of the reported approximate distance."""
    rows = registry.get_query("dedup_minhash_near").fn(spark, sf_dir).collect()
    docs = dict(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    )

    def shingle(t: str) -> set:
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    for r in rows:
        a, b = shingle(docs[r.doc_a]), shingle(docs[r.doc_b])
        true_dist = 1 - len(a & b) / len(a | b)
        assert true_dist <= r.jaccard_dist + 0.25


def test_hll_sketch_merge_within_5pct(spark, sf_dir):
    """Sketch-merge contract: weekly HLL union of daily sketches must track
    the exact weekly count(distinct user_id) within 5%.  The query is
    self-grading (exact count + verdict boolean in its own output)."""
    from cobradb_spark.io import load_events

    rows = registry.get_query("agg_hll_sketch_merge").fn(spark, sf_dir).collect()
    assert rows
    exact = {
        r.week_start: r.n
        for r in load_events(spark, sf_dir)
        .groupBy(F.date_trunc("week", "ts").alias("week_start"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.approx_within_5pct is True
        assert r.exact_users == exact[r.week_start]


def test_bloom_prefilter_passes_all_true_matches(spark, sf_dir):
    """A bloom filter may let false positives through (the join removes
    them) but must NEVER drop a true match — compare prefiltered join
    cardinality against the plain join."""
    got = {
        (r.o_orderstatus, r.n_orders)
        for r in registry.get_query("join_bloom_prefilter").fn(spark, sf_dir).collect()
    }
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = {
        (r.o_orderstatus, r.n)
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_cosine_near_pairs_size_gate(spark, sf_dir):
    """cosine_near_pairs routes by estimated matrix size: broadcast kernel
    under the limit, LSH + exact re-score above it — and the LSH path must
    recall most of the exact pairs while emitting no false positives."""
    from cobradb_spark.io import load_table
    from cobradb_spark.operators import knn

    emb = load_table(spark, sf_dir, "embeddings")
    est = knn.estimate_matrix_bytes(emb)
    assert est > 0

    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in knn.cosine_near_pairs(emb, 0.4, broadcast_bytes_limit=est).collect()
    }
    assert exact, "sf0.001 embeddings should contain cosine>=0.4 pairs"

    # Force the LSH path by setting the budget below the estimate.
    lsh = {
        (r.a_id, r.b_id): r.cos_sim
        for r in knn.cosine_near_pairs(emb, 0.4, broadcast_bytes_limit=est - 1).collect()
    }
    # no false positives: every LSH pair is a true above-threshold pair
    for pair, sim in lsh.items():
        assert pair in exact
        assert abs(sim - exact[pair]) < 1e-5
    # bucketed candidate generation may miss pairs, but not most of them
    assert len(lsh) / len(exact) >= 0.8


def test_cosine_topk_argpartition_matches_full_sort(spark):
    """The argpartition top-k kernel must reproduce the full-stable-sort
    semantics (cos desc, id asc) exactly — including boundary ties, which
    are forced here by duplicating vectors so several corpus rows have
    bit-equal cosines straddling the k cut."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 8)).round(1)  # coarse values -> exact ties
    # 40 vectors from only 12 distinct directions: ties everywhere
    vecs = [base[i % 12] * (1.0 + (i // 12)) for i in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # ONE partition -> one Arrow batch -> the kernel's dgemm has the
    # identical (40 x 8) @ (8 x 40) shape as the reference below, so tie
    # candidates are bit-equal in both (different dgemm blocking can
    # differ in the last bit, which would legitimately reorder ties)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)

    from cobradb_spark.operators import knn

    got = {
        (r["a_id"], r["rn"]): (r["b_id"], r["cos_sim"])
        for r in knn.cosine_topk(emb, 5).collect()
    }

    ids, mat_n = knn._rows_to_unit_matrix([(i, v) for i, v in rows])
    sims = mat_n @ mat_n.T
    np.fill_diagonal(sims, -np.inf)
    n_tied = 0
    for a in range(40):
        row = sims[a]
        order = np.argsort(-row, kind="stable")  # (cos desc, id asc)
        kth = row[order[4]]
        n_tied += int((row == kth).sum() > (row[order[:5]] == kth).sum())
        for rn, b in enumerate(order[:5], start=1):
            exp_b, exp_c = int(ids[b]), round(float(row[b]), 6)
            got_b, got_c = got[(a, rn)]
            assert (got_b, got_c) == (exp_b, exp_c), (a, rn, got_b, exp_b)
    assert n_tied > 0  # the fixture must actually exercise the tie fallback


def test_maxsim_matches_numpy(spark, sf_dir):
    """MaxSim semantics vs a numpy reference: score = sum over query
    tokens of the max dot against any doc token (8x8-dim reshape)."""
    import numpy as np

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64).reshape(8, 8)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    rows = get_query("sim_maxsim_late_interaction").fn(spark, sf_dir).collect()
    assert len(rows) == 15  # 5 queries x top-3
    for q in range(5):
        scores = {
            d: float((emb[q] @ emb[d].T).max(axis=1).sum())
            for d in emb
            if d != q
        }
        expect = sorted(scores, key=lambda d: (-scores[d], d))[:3]
        got = [
            (r["d_id"], r["score"])
            for r in sorted(
                (x for x in rows if x["q_id"] == q), key=lambda x: x["rank"]
            )
        ]
        assert [d for d, _ in got] == expect
        for d, s in got:
            assert abs(s - scores[d]) < 1e-9


def test_binary_hamming_matches_numpy(spark, sf_dir):
    """Signature and ranking vs a numpy reference (sign-bit packing +
    XOR popcount), including the BIGINT-min top-bit trick."""
    import numpy as np

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    sig = {
        v: sum(1 << i for i in range(64) if emb[v][i] >= 0) for v in emb
    }
    rows = get_query("embed_binary_hamming_topk").fn(spark, sf_dir).collect()
    assert len(rows) == 15
    for q in range(5):
        ham = {d: bin(sig[q] ^ sig[d]).count("1") for d in sig if d != q}
        expect = sorted(ham, key=lambda d: (ham[d], d))[:3]
        got = [
            (r["d_id"], r["hamming"])
            for r in sorted(
                (x for x in rows if x["q_id"] == q), key=lambda x: x["rank"]
            )
        ]
        assert [d for d, _ in got] == expect
        for d, h in got:
            assert h == ham[d]


def test_kmv_theta_sketch_error_bound_and_replay(spark, sf_dir):
    """KMV contract: every estimate within the 4/sqrt(k) tail bound of
    exact (k=64 -> 50%; observed error is ~10-15%), and a pure-Python
    replay of the estimator over the same md5 hashes reproduces each
    returned row bit-for-bit (pins the k-th-smallest / theta / floor
    conventions against silent drift)."""
    import hashlib

    out = registry.get_query("agg_kmv_theta_sketch").fn(spark, sf_dir).collect()
    assert len(out) == 6
    for r in out:
        assert r.exact_distinct > 0
        assert abs(r.est_distinct - r.exact_distinct) <= 0.5 * r.exact_distinct

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderpriority", "o_custkey"
    ).distinct().collect()
    K, TWO60 = 64, float(1 << 60)
    segs: dict[str, set[int]] = {}
    for row in orders:
        h = int(hashlib.md5(str(row.o_custkey).encode()).hexdigest()[:15], 16)
        segs.setdefault(row.o_orderpriority, set()).add(h)
    expect = {}
    for seg, hs in segs.items():
        ks = sorted(hs)[:K]
        est = len(ks) if len(ks) < K else int((K - 1) * TWO60 / ks[-1])
        expect[seg] = (est, len(hs))
    union = segs["1-URGENT"] | segs["2-HIGH"]
    both = segs["1-URGENT"] & segs["2-HIGH"]
    uk = sorted(union)[:K]
    theta = uk[-1]
    m = sum(1 for h in uk if h in both and h < theta)
    est_i = len(both) if len(uk) < K else int(m * TWO60 / theta)
    expect["INTERSECT(1-URGENT,2-HIGH)"] = (est_i, len(both))
    got = {r.seg: (r.est_distinct, r.exact_distinct) for r in out}
    assert got == expect


def test_matryoshka_overlap_bounds_and_signal(spark, sf_dir):
    """MRL harness pins: overlap in [0,5] per vector, and the 32-dim
    prefix retains real signal — mean top-5 overlap must beat the
    hypergeometric chance level (5 matches among n-1 candidates ~ 25/(n-1)
    expected, i.e. <0.06 at sf0.01) by a wide margin."""
    rows = registry.get_query("embed_matryoshka_overlap").fn(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for r in rows:
        assert 0 <= r.n_overlap <= 5
    mean = sum(r.n_overlap for r in rows) / n
    chance = 25.0 / max(n - 1, 1)
    assert mean > max(10 * chance, 0.5), (mean, chance)


def test_incremental_topk_equals_full_rebuild(spark, sf_dir):
    """The incrementally-maintained top-k must equal the from-scratch
    cosine_topk over the full corpus, row for row (engine-internal
    check, independent of the DuckDB oracle)."""
    from cobradb_spark.io import load_table
    from cobradb_spark.operators.knn import cosine_topk
    from cobradb_spark.registry import get_query

    full = {
        (r["a_id"], r["rn"]): (r["b_id"], r["cos_sim"])
        for r in cosine_topk(
            load_table(spark, sf_dir, "embeddings"), k=5
        ).collect()
    }
    inc = {
        (r["a_id"], r["rn"]): (r["b_id"], r["cos_sim"])
        for r in get_query("sim_topk_incremental").fn(spark, sf_dir).collect()
    }
    assert inc == full


def test_rag_mips_python_replay(spark, sf_dir):
    """Replay the whole RAG pipeline in pure Python: chunking (position
    among ALL split elements, empties skipped after), signed hashing-
    trick embeddings, same-doc exclusion, integer MIPS top-3 with the
    (dot desc, doc, chunk) tie-break."""
    import hashlib
    from collections import Counter, defaultdict

    from cobradb_spark.io import load_table
    from cobradb_spark.registry import get_query

    def bucket(seed, tok, mod):
        h = hashlib.md5((seed + tok).encode()).hexdigest()
        return int(h[:15], 16) % mod

    emb = defaultdict(Counter)  # (doc, chunk) -> dim -> val
    for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        for pos, tok in enumerate(r["text"].split(" ")):
            if tok == "":
                continue
            emb[(r["doc_id"], pos // 32)][bucket("rd", tok, 64)] += (
                1 - 2 * bucket("rs", tok, 2)
            )
    emb = {k: {d: v for d, v in c.items() if v != 0} for k, c in emb.items()}
    expect = []
    for (qd, qc), qv in sorted(emb.items()):
        if qd % 100 != 0 or qd >= 1000 or qc != 0:
            continue
        scored = []
        for (nd, nc), nv in emb.items():
            if nd == qd:
                continue
            dot = sum(val * nv.get(d, 0) for d, val in qv.items())
            if any(d in nv for d in qv):
                scored.append((-dot, nd, nc))
        scored.sort()
        expect += [
            (qd, nd, nc, -negdot, rn + 1)
            for rn, (negdot, nd, nc) in enumerate(scored[:3])
        ]
    got = [
        (r["q_doc"], r["n_doc"], r["n_chunk"], r["dot"], r["rn"])
        for r in get_query("rag_chunk_index_mips").fn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_tdigest_kernel_accuracy_and_merge():
    """t-digest contract: quantile error small on a skewed distribution,
    and a two-level (partitioned build -> merge) digest agrees with a
    single-pass digest within the same tolerance."""
    import numpy as np

    from cobradb_spark.queries.sketches import _td_compress, _td_quantile

    rng = np.random.RandomState(7)
    x = np.exp(rng.normal(0.0, 1.0, 50_000))  # lognormal: heavy tail
    exact = {q: float(np.quantile(x, q)) for q in (0.05, 0.5, 0.95, 0.99)}

    # single-pass digest
    m1, w1 = _td_compress(x, np.ones_like(x), delta=100)
    # two-level: 8 "partitions" compressed at delta=200, merged at 100
    parts = [
        _td_compress(c, np.ones_like(c), delta=200) for c in np.array_split(x, 8)
    ]
    m2, w2 = _td_compress(
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts]),
        delta=100,
    )
    assert float(w1.sum()) == float(len(x)) == float(w2.sum())
    for q, ev in exact.items():
        for m, w in ((m1, w1), (m2, w2)):
            assert abs(_td_quantile(m, w, q) - ev) / ev < 0.01, (q, ev)


def test_tdigest_query_flags_true_under_repartition(spark, sf_dir):
    """The self-grading booleans must hold on any partition layout."""
    out = registry.get_query("agg_tdigest_quantile").fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r.td_p50_within_1pct is True
        assert r.td_p95_within_1pct is True


def test_cosine_pairs_broadcast_direct_call_rides_the_gate(spark, sf_dir, monkeypatch):
    """r10 VERDICT hardening: cosine_pairs_broadcast called DIRECTLY
    (not via the cosine_near_pairs dispatcher) must still refuse an
    over-budget corpus with the documented error instead of collecting
    it unboundedly — and still work when pre-collected rows are handed
    in by the dispatcher."""
    import pytest

    from cobradb_spark.io import load_table
    from cobradb_spark.operators import knn

    emb = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(knn, "BROADCAST_BYTES_LIMIT", 64)
    with pytest.raises(ValueError, match="broadcast budget"):
        knn.cosine_pairs_broadcast(emb, 0.4).count()
    # in-budget direct call still produces pairs
    monkeypatch.setattr(knn, "BROADCAST_BYTES_LIMIT", 512 * 1024 * 1024)
    assert knn.cosine_pairs_broadcast(emb, 0.4).count() > 0
